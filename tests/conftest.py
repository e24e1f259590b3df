"""Shared fixtures: one local SparkSession per test run + the reference
test corpora (mirrors of /root/reference/test-resources — data values
only, used for golden-parity assertions per SURVEY.md §5)."""

from __future__ import annotations

import sys
import uuid

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("lucene_clj_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


# Mirror of reference test-resources/sample-data.csv (13 fictional
# characters; drives the semantic golden tests in lucene_test.clj).
SAMPLE_ROWS = [
    ("Suppandi", "Varadarajan", "16", "false", "m",
     "A wonderful, innocent soul. You'll enjoy his antics."),
    ("Shikari", "Shambhu", "32", "False", "m",
     "Carries a gun. But no bullets. Animals love him."),
    ("Chacha", "Chaudhary", "64", "FalSe", "m",
     "The supercomputer. And then some more!"),
    ("Sabu", "Jupiterwala", "2", "false", "m",
     "Yes, of legal age. Just a different age-scale because of the planet "
     "he comes from. Strong, powerful, but kind. Because, not an "
     "earthling. Children love him."),
    ("Wonder", "Woman", "21", "false", "f",
     "Strong. Peace lover. You'll love her antics."),
    ("Charlie", "Chaplin", "128", "truE", "m",
     "Legend. A wonderful, innocent soul. You'll enjoy his antics."),
    ("Clark", "Kent", "32", "false", "m",
     "Strong. Peace lover. Kryptonite. You'll love his antics."),
    ("Stanley", "Laurel", "128", "true", "m", "Hehehe"),
    ("Oliver", "Hardy", "128", "True", "m", "HoHoHo"),
    ("Oliver", "Twist", "108", "false", "m", "Yeah. That one!"),
    ("Pran", "Sharma", "81", "true", "m",
     "Creator of Chacha Chaudhary. And many more. Thank you for the "
     "wonderful childhood, sir!"),
    ("Pinki", "Sharma", "5", "false", "f", "Cute disaster."),
    ("Pran", "Sikand", "93", "true", "m", "Villain. But a Hero."),
]
SAMPLE_COLUMNS = ["first_name", "last_name", "age", "real", "gender", "bio"]

# Mirror of tests_common.clj sample-fields (:60-117): first-name has
# suggestions with contexts derived from lowercased `real`.
SAMPLE_FIELDS = {
    "first_name": {
        "type": "text",
        "suggest": {
            "contexts_from": lambda doc: [doc["real"].lower()],
        },
    },
    "last_name": "text",
    "age": "keyword",
    "real": "text",
    "gender": "text",
    "bio": "text",
}


@pytest.fixture(scope="session")
def sample_docs(spark):
    return spark.createDataFrame(SAMPLE_ROWS, SAMPLE_COLUMNS)


@pytest.fixture(scope="session")
def sample_index(spark, sample_docs):
    from lucene_clj_spark import create_index

    # insertion order = docID order in the reference (Lucene assigns
    # docIDs in addDocument order); we pin it explicitly.
    from pyspark.sql import functions as F

    rows = [(i, *r) for i, r in enumerate(SAMPLE_ROWS)]
    df = spark.createDataFrame(rows, ["doc_id"] + SAMPLE_COLUMNS)
    return create_index(
        spark,
        df,
        SAMPLE_FIELDS,
        id_column="doc_id",
    )


def names(search_df, col="first_name"):
    return [r[col] for r in search_df.collect()]


def name_pairs(search_df):
    return [(r["first_name"], r["last_name"]) for r in search_df.collect()]


def count_jobs(spark, fn):
    """(Spark jobs ``fn`` launched, ``fn``'s result), counted through a
    job group and the status tracker."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def count_dict_loads(spark, fn):
    """(term-dictionary loads ``fn`` launched, ``fn``'s result): its
    jobs (``count_jobs``'s job group) described ``terms:dictionary``.
    The caller's job description must be back once each load is done."""
    from lucene_clj_spark.termdict import JOB_DESCRIPTION

    sc = spark.sparkContext
    group = f"loads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        assert sc.getLocalProperty("spark.job.description") == group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    loads = 0
    for job in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(job).description()
        loads += desc.isDefined() and desc.get() == JOB_DESCRIPTION
    return loads, out


def count_py4j(fn):
    """(Py4J commands ``fn`` sent, ``fn``'s result), counted at
    ``ClientServerConnection.send_command``. Object releases
    (``m\\nd\\n``) are left out: garbage-collection timing, not the
    code, decides when they go. Other threads' commands count too, so
    run nothing else on the session meanwhile."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    sent = [0]

    def counting(self, command, *args, **kw):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(self, command, *args, **kw)

    ClientServerConnection.send_command = counting
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = send
    return sent[0], out
