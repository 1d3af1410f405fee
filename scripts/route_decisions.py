"""Record the SQL router's routing decision for every statement the
router tests issue, plus the perfbench seed-7 SQL stream.

Run it once per source tree and diff the outputs to show that a router
change kept every decision (the statements always come from THIS
checkout's tests and perfbench; the package comes from PYTHONPATH):

    git archive HEAD~1 | tar -x -C /tmp/parent
    PYTHONPATH=/tmp/parent python scripts/route_decisions.py /tmp/parent.jsonl
    PYTHONPATH=. python scripts/route_decisions.py /tmp/change.jsonl
    diff /tmp/parent.jsonl /tmp/change.jsonl && echo "no routing change"

Each output line is one route_sql call: the SQL text, `routed` and the
kernel flags, or the exception class it raised.  The test statements
run inside pytest (tests/test_sql_router.py, so the grammar fuzz's
seeded statements and the store's delete history are the tests' own);
the stream routes two rounds of `perfbench.inputs.sql_stream(7, ...)`
over a 6000-row lineitem store.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(ROOT)  # perfbench; the package itself comes from PYTHONPATH

FLAGS = ("routed", "select_kernel", "group_kernel", "join_pushdown",
         "distinct_kernel", "metadata_only")


def main(out_path: str) -> None:
    import pytest
    from compressed_vec_spark.sources import sql_router

    route = sql_router.route_sql
    with open(out_path, "w") as log:
        def recorded(spark, out_dir, sql, view=None):
            try:
                df, st = route(spark, out_dir, sql, view)
            except Exception as e:
                log.write(json.dumps({"sql": sql,
                                      "raised": type(e).__name__}) + "\n")
                raise
            log.write(json.dumps({"sql": sql, **{f: bool(st.get(f))
                                                 for f in FLAGS}}) + "\n")
            return df, st

        sql_router.route_sql = recorded
        code = pytest.main(["-q", "-p", "no:cacheprovider", os.path.join(
            ROOT, "tests", "test_sql_router.py")])
        if code != 0:
            sys.exit(f"tests/test_sql_router.py failed ({code})")
        _stream(recorded)


def _stream(route) -> None:
    import numpy as np
    import pyarrow.parquet as pq
    from compressed_vec_spark.sources import encoded_table
    from compressed_vec_spark.spark import encode_job
    from compressed_vec_spark.spark.session import get_spark
    from perfbench import inputs

    spark = get_spark("route-decisions", cores=2)
    table = inputs.lineitem(7, n=6000)
    with tempfile.TemporaryDirectory(prefix="route_decisions_") as tmp:
        pq.write_table(table, os.path.join(tmp, "li.parquet"))
        store = os.path.join(tmp, "store")
        df = (spark.read.parquet(os.path.join(tmp, "li.parquet"))
              .repartitionByRange(4, "l_orderkey")
              .sortWithinPartitions("l_orderkey"))
        encode_job.encode_table(spark, df, store, url_col=None,
                                resume=False)
        encoded_table.register_encoded_table(spark, store, "li")
        keys = np.unique(table.column("l_orderkey").to_numpy())
        for _, _, q, _ in inputs.sql_stream(7, keys, "li", 2):
            route(spark, store, q, "li")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
