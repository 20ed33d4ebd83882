"""The reference's own query library (SURVEY.md §2.2 E1-E4) as
driver-checkable DataFrame queries over the ``documents`` table.

The reference golden-tests exactly two workloads:

- word count (E1 tokenize+project, E2 count-per-key):
  ``tr '[ \\t]' '\\n' | tr upper lower | awk '{print $1"\\t1"}'`` then
  ``cut -f1 | uniq -c`` (reference: tests/testdata/exec/wc_map.sh:12,
  wc_reduce.sh:14). Note `tr` emits EMPTY tokens for leading/adjacent
  separators and the golden output keeps them — so empties are NOT
  filtered here (unlike the LLM-plane tokenizer).
- grep (E3 substring filter, E4 value projection):
  case-insensitive substring match, emit the line
  (reference: tests/testdata/exec/grep_map.py:13-28, grep_reduce.py:17-27).

The byte-exact executable-pipeline forms of these run through
``operators.mapreduce.run_job`` (golden-tested in tests/); these
DataFrame twins are the declarative equivalents the driver can
oracle-check at any scale factor: hash aggregation replaces the
sort-contract `uniq -c`, a pushed-down filter replaces the per-line
scan — same results, Catalyst-owned physical plan.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize
from ..sources.tables import load_table
from .registry import query

#: Engine-native executable operators (repo-root exec/).
EXEC_DIR = Path(__file__).resolve().parents[2] / "exec"

#: E3 default query term (the reference default is "product",
#: grep_map.py:16; the fixture corpus is synthetic so the term is
#: chosen to actually match documents).
GREP_QUERY = "data"


@query(
    "q_wordcount",
    oracle="""
    SELECT tok AS word, COUNT(*) AS cnt
    FROM (
        SELECT unnest(string_split_regex(lower(text), '[ \t]')) AS tok
        FROM documents
    )
    GROUP BY tok
    ORDER BY word
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+E2 word count: split on space/tab (keeping empty tokens,
    matching `tr`), lowercase, count per token.

    One narrow projection explodes to tokens, then partial+final hash
    agg — the sorted-group contract (F4+F5+F6 + uniq -c) collapses
    into Spark's shuffle aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower("text"), "[ \t]")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        # No trailing global sort — output is vocabulary-linear.
    )


@query(
    "q_grep",
    oracle=f"""
    SELECT doc_id, text AS line
    FROM documents
    WHERE contains(lower(text), '{GREP_QUERY}')
    ORDER BY doc_id
    """,
)
def q_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3+E4 grep: case-insensitive substring filter, project the line.

    The predicate is a pushed-down string filter on the parquet scan;
    doc_id stands in for the reference's constant '1' tag as a
    deterministic ordering key.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.lower(F.col("text")).contains(GREP_QUERY))
        .select("doc_id", F.col("text").alias("line"))
        # No trailing global sort — output is match-linear; the whole
        # plan is a single scan stage (filter pushed to parquet).
    )


@query(
    "q_pipe_wordcount",
    oracle="""
    SELECT tok AS word, COUNT(*) AS cnt
    FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t]'),
                                  t -> t <> '')) AS tok
        FROM documents
    )
    GROUP BY tok
    ORDER BY word
    """,
)
def q_pipe_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL executable plane under driver check: documents.text is
    dumped to a text directory, run through ``run_job`` with the
    engine's own mapper/reducer executables (JVM ``RDD.pipe``
    subprocesses, F3+F6+F7), and the ``outputfileNN`` results are read back.
    The read-back counts are checkpointed so the temporary directory
    (input dump and job output) can be deleted before returning.

    Uses the one-shuffle hash-grouping path (``compat=False``) — the
    100 TB posture; the byte-exact compat path is golden-tested in
    tests/. Python-side ``.split()`` (whitespace runs, no empties)
    matches the oracle's filtered single-char split because document
    text contains only space separators.
    """
    from ..operators.mapreduce import run_job

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="pipe_wc_")
    in_dir, out_dir = f"{root}/in", f"{root}/out"
    try:
        docs.select("text").write.mode("overwrite").text(in_dir)
        run_job(
            spark,
            in_dir,
            out_dir,
            str(EXEC_DIR / "wc_map.py"),
            str(EXEC_DIR / "wc_reduce.py"),
            num_mappers=4,
            num_reducers=4,
            compat=False,
        )
        kv = F.split(F.col("value"), "\t", 2)
        counts = materialize(spark.read.text(out_dir).select(
            kv.getItem(0).alias("word"), kv.getItem(1).cast("long").alias("cnt")
        ))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return counts.orderBy("word")
