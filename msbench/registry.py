"""The registry pass: the registered queries of ``__spark_entry__``,
each built and collected once, in a seed-permuted order, on the
benchmark's own seeded tables (``gen.registry_tables``).

Each query is one operation: the call of its query function is its
construct span (jobs that call runs before returning count as jobs
before action) and ``toPandas()`` its execute span.  Outside the timed
region every result is compared with the query's DuckDB oracle through
the repository's ``tools/check_oracle.py`` helpers; an error or a
mismatch is a failed operation.
"""

from __future__ import annotations

import os

import numpy as np

import gen

# the 24 registered queries of the benchmark's query mix
QUERIES = (
    "ann_ivf_indexed", "graph_triangles", "split_leakage",
    "constraint_audit", "applycal", "gain_solve", "ann_lsh",
    "dedup_edit_distance", "projection", "filter_pushdown",
    "taql_subquery", "group_partition", "sorted_read", "concat",
    "overlay", "tensor_slice", "tensor_chan_avg", "bda_weighted",
    "grid_conv", "rfi_flag", "statwt", "tpch_q1", "tpch_q8", "tpch_q18",
)
PHASE = "registry"


def order(seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 4])
    return [QUERIES[i] for i in rng.permutation(len(QUERIES))]


def run_pass(dms, spark, rec, work: str, seed: int) -> list:
    """Generate the tables, run every query once (ops of phase
    :data:`PHASE`), then check each result.  Returns the
    ``(query, problem)`` pairs of the checks that failed."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import frame_compare

    data = os.path.join(work, "registry")
    gen.write_registry_tables(seed, data)
    queries, oracles = entry.queries(), entry.oracle_sql()
    results = {}
    for i, name in enumerate(order(seed)):
        def query(op, name=name):
            df = queries[name](spark, data)
            rec.constructed(op)
            results[name] = df.toPandas()

        # persisted intermediates of one query are released before the
        # next, as tools/check_oracle.py does
        dms.release_caches()
        rec.run(query, name, "read", PHASE, i)
    dms.release_caches()

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in gen.REGISTRY_TABLES:
        path = os.path.join(data, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad: list[tuple[str, str]] = []
    for name, got in results.items():
        try:
            diffs = frame_compare(got, con.execute(oracles[name]).df())
        except Exception as err:  # noqa: BLE001
            diffs = [f"oracle: {type(err).__name__}: {err}"]
        if diffs:
            bad.append((name, "; ".join(diffs)[:500]))
    con.close()
    return bad
