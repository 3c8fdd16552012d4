"""Two Spark sessions, one after the other, in one Python process, each
running the package's Python functions: the parse stage's pandas UDF over a
few pages, the url-params UDTF over their urls, and the simhash, minhash
and fingerprint pandas UDFs over their text.

A Python UDF object caches its Java function the first time it is used,
and that function reports task accumulators to the SparkContext that was
live then. If the package kept such an object across a ``stop`` and a new
session (as ``cli.main`` does when one process runs it twice), every task
of the second session would log "Failed to update accumulator" for the
first session's dead accumulator server.

Usage: python tests/run_two_sessions.py
Prints one JSON line ``{"sessions": [rows, rows]}``: each session's parsed
rows, url params and text hashes, sorted.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from access_log_aggregator_spark.functions.fingerprint_arrow import fingerprint_tokens  # noqa: E402
from access_log_aggregator_spark.functions.minhash_arrow import minhash_signature  # noqa: E402
from access_log_aggregator_spark.functions.simhash_arrow import simhash  # noqa: E402
from access_log_aggregator_spark.functions.url_udtf import url_params_udtf  # noqa: E402
from access_log_aggregator_spark.operators.parse import parse_stage  # noqa: E402
from access_log_aggregator_spark.session import get_spark  # noqa: E402
from access_log_aggregator_spark.sources.pages import generate_pages_chunk  # noqa: E402


def one_session() -> dict:
    spark = get_spark(app_name="two-sessions", master="local[2]",
                      shuffle_partitions=2)
    try:
        pages = spark.createDataFrame(generate_pages_chunk(0, 40)).repartition(2)
        parsed = sorted(
            [r.url, r.host, r.status_code, r.record_valid]
            for r in parse_stage(pages).collect())
        spark.udtf.register("url_params", url_params_udtf())
        pages.select("url").createOrReplaceTempView("_urls")
        params = sorted(list(r) for r in spark.sql(
            "select url, p.param, p.value from _urls, lateral url_params(url) p"
        ).collect())
        hashes = sorted(list(r) for r in pages.select(
            "url", simhash("text"), minhash_signature("text"),
            fingerprint_tokens("text").fingerprint).collect())
        return {"parsed": parsed, "params": params, "hashes": hashes}
    finally:
        spark.stop()


if __name__ == "__main__":
    print(json.dumps({"sessions": [one_session(), one_session()]}))
