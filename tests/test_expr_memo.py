"""Build-once row-local expression trees: `dedup.url_parts`,
`dedup.minhash_signatures`, the count-min cell fan-out and the minhash
stream's prepare columns are memoized per (live JVM gateway, parameters).
A memoized tree must give the same rows as a fresh build on any frame,
and a JVM relaunched in the same process must get fresh trees."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from apache_kafka_clickhouse_demo_spark.operators import dedup
from apache_kafka_clickhouse_demo_spark.operators import sketches as SK
from apache_kafka_clickhouse_demo_spark.streaming import stateful

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_MEMOS = (
    dedup._url_part_columns,
    dedup._minhash_columns,
    SK._count_min_cells,
    stateful._minhash_prepare_columns,
)

_DOCS = {
    "a": [
        (1, "https://www.Example.com/a?utm_source=x", "the quick brown fox jumps over"),
        (2, "http://news.example.co.uk/story#top", "the quick brown fox jumps over it"),
        (3, "not a url", None),
    ],
    "b": [
        (7, "https://shop.test.org/item?id=3&gclid=9", "lorem ipsum dolor sit amet now"),
        (8, "HTTPS://Shop.Test.org/item?id=3", "lorem ipsum dolor sit amet"),
        (9, None, "a b"),
    ],
}


def _docs(spark, name):
    return spark.createDataFrame(_DOCS[name], "doc_id long, url string, text string")


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _answers(spark, name) -> dict[str, list[tuple]]:
    docs = _docs(spark, name)
    parts = dedup.url_parts(docs)
    sketch = SK.count_min_build(parts, "reg_domain", width=16, depth=3)
    domains = parts.select("reg_domain").distinct().dropna()
    return {
        "url_parts": _rows(parts),
        "minhash": _rows(dedup.minhash_signatures(docs)),
        "cms_build": _rows(sketch),
        "cms_lookup": _rows(
            SK.count_min_lookup(sketch, domains, "reg_domain", width=16, depth=3)
        ),
    }


def test_memoized_trees_match_a_fresh_build(spark):
    """Warm the memos on one frame, answer another from them, and compare
    with a cold build on that second frame: same rows, and the second
    frame's answer came from the memo."""
    for memo in _MEMOS:
        memo.cache_clear()
    cold_a = _answers(spark, "a")
    hits = {m: m.cache_info().hits for m in _MEMOS[:3]}
    warm_b = _answers(spark, "b")
    assert all(m.cache_info().hits > hits[m] for m in _MEMOS[:3])
    warm_a = _answers(spark, "a")
    for memo in _MEMOS:
        memo.cache_clear()
    cold_b = _answers(spark, "b")
    assert warm_a == cold_a
    assert warm_b == cold_b
    assert cold_a != cold_b
    assert [r[2] for r in cold_a["url_parts"]] == ["example.com", "example.co.uk", None]
    assert [r[1] for r in cold_b["url_parts"]][:2] == [
        "https://shop.test.org/item?id=3",
        "https://shop.test.org/item?id=3",
    ]


_RELAUNCH = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark import SparkContext
    from apache_kafka_clickhouse_demo_spark.session import get_spark
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import minhash_stream_writer
    from tests.test_expr_memo import _answers, _docs

    def run(tag):
        spark = get_spark(app_name="memo-relaunch", master="local[2]", shuffle_partitions=2)
        got = _answers(spark, "a"), _answers(spark, "b")
        w = minhash_stream_writer(
            spark, out_dir={tmp!r} + "/out" + tag, store_dir={tmp!r} + "/store" + tag
        )
        w.process(_docs(spark, "a").select("doc_id", "text"), 0)
        kept = sorted(r["doc_id"] for r in w.out.read(spark).collect())
        spark.stop()
        return got, kept

    first = run("1")
    # end the JVM and its gateway, as a process that relaunches Spark does
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    second = run("2")
    assert first == second, (first, second)
    assert first[1] == [1, 3], first[1]  # doc 2 is a near-dup of doc 1
    print("RELAUNCH-OK")
    """
)


def test_memoized_trees_survive_a_jvm_relaunch(tmp_path):
    """Stop Spark, shut its JVM gateway down and relaunch both in the same
    process: every memoized operator still answers, identically.  Runs in
    a subprocess so the suite's shared session is not killed."""
    script = _RELAUNCH.format(repo=REPO, tmp=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "RELAUNCH-OK" in proc.stdout, proc.stderr[-3000:]
