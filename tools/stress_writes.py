#!/usr/bin/env python
"""Write-path scale-stress (SCALE.md #12): the r8-fixed zarr
re-densify and CASA update paths at 1x and 10x rows.

* ZARR leg: the sf0.1 lineitem table grouped+filtered so the dataset
  carries GAPPY global ROWIDs (the r8 corruption class), written to a
  zarr store — the writer must re-densify — then read back and
  value-checked (count + column checksums) against the source.  10x =
  ten id-shifted copies.  Asserts read-back equality and near-linear
  wall; reports the driver's peak-RSS delta per write, which must stay
  FLAT across 1x -> 10x (the writer streams chunk-aligned batches; a
  growing delta means rows are collecting driver-side).

* CASA update leg: scattered-ROWID updates (every 3rd row) against a
  python-casacore-shaped fake table through the ``table_factory`` seam
  (this sandbox ships no casacore; the seam is the same code path the
  real factory takes — contiguous putcol runs from bounded
  toLocalIterator batches).  The fake's own numpy storage is allocated
  BEFORE the measured window so the RSS delta isolates the writer.

Usage: python tools/stress_writes.py [sf_dir]
"""

import os
import resource
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dask_ms_spark.dataset import Dataset  # noqa: E402
from dask_ms_spark.session import get_spark  # noqa: E402
from dask_ms_spark.types import ROWID  # noqa: E402


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def gappy_lineitem(spark, sf_dir: str, copies: int):
    """Grouped+filtered lineitem slice with the PARENT's global
    ROWIDs (gappy by construction): keep ~1/3 of rows."""
    from dask_ms_spark.operators.ordering import attach_rowid

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    base = li.select("l_orderkey", "l_partkey", "l_linenumber",
                     "l_quantity", "l_extendedprice")
    if copies > 1:
        shift = base.count()
        parts = [base]
        for i in range(1, copies):
            parts.append(base.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(i * shift)))
        base = parts[0]
        for p in parts[1:]:
            base = base.unionByName(p)
    # full-row ordering: ties are then payload-identical, so the
    # %3-filtered MULTISET of rows is evaluation-independent (a
    # partial key would let the lazy filter keep different payload
    # rows per evaluation and fail the checksum for tool reasons)
    ridded = attach_rowid(base, ["l_orderkey", "l_partkey",
                                 "l_linenumber", "l_quantity",
                                 "l_extendedprice"])
    return ridded.where(F.col(ROWID) % 3 == 0)


def checksum(df):
    """Order-independent value checksum over the payload columns."""
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_orderkey") * 7 + F.col("l_linenumber"))
         .alias("k"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
         .alias("p")).first()


def zarr_leg(spark, sf_dir: str, out_dir: str):
    from dask_ms_spark.sources.zarr import xds_from_zarr, xds_to_zarr

    results = {}
    for copies in (1, 10):
        df = gappy_lineitem(spark, sf_dir, copies)
        src_sum = checksum(df)
        store = os.path.join(out_dir, f"zarr_{copies}x")
        r0, t0 = rss_mb(), time.time()
        xds_to_zarr([Dataset(df, {})], store, row_chunk=65536)
        wall, drss = time.time() - t0, rss_mb() - r0
        [back] = xds_from_zarr(spark, store)
        t1 = time.time()
        back_sum = checksum(back.df)
        read_wall = time.time() - t1
        ok = tuple(src_sum) == tuple(back_sum)
        results[copies] = (wall, drss, ok, src_sum["n"])
        print(f"zarr {copies}x: rows={src_sum['n']} wall={wall:.2f}s "
              f"driver-rss-delta={drss:.0f}MB readback="
              f"{'OK' if ok else 'MISMATCH'} read={read_wall:.2f}s "
              f"read-tasks={back.df.rdd.getNumPartitions()}", flush=True)
        assert ok, f"zarr {copies}x read-back mismatch"
    return results


def casa_leg(spark, sf_dir: str):
    from dask_ms_spark.sources.casa import xds_to_casa

    results = {}
    for copies in (1, 10):
        df = gappy_lineitem(spark, sf_dir, copies)
        n_parent = df.agg(F.max(ROWID)).first()[0] + 1

        class FakeTable:
            """Minimal python-casacore shape: the target table the
            scattered-ROWID update writes into."""

            def __init__(self, nrow):
                self.TIME = np.zeros(nrow, dtype="<f8")

            def nrows(self):
                return len(self.TIME)

            def colnames(self):
                return ["TIME"]

            def getcolslice(self, *a, **k):  # pragma: no cover
                raise NotImplementedError

            def putcol(self, col, value, startrow, nrow):
                assert col == "TIME"
                self.TIME[startrow:startrow + nrow] = value

            def getcol(self, col, startrow=0, nrow=-1):
                return self.TIME[startrow:][:nrow if nrow >= 0 else None]

            def coldesc(self, col):  # scalar double
                return {"valueType": "double"}

            def getcoldesc(self, col):
                return {"valueType": "double"}

            def close(self):
                pass

        sink = FakeTable(n_parent)       # allocated OUTSIDE the window
        updates = df.select(ROWID, (F.col("l_quantity") * 2.0)
                            .alias("TIME"))
        r0, t0 = rss_mb(), time.time()
        n = xds_to_casa([Dataset(updates, {})], "/fake/ms",
                        table_factory=lambda p: sink)
        wall, drss = time.time() - t0, rss_mb() - r0
        # value check: every 3rd parent row written, others untouched
        nz = int(np.count_nonzero(sink.TIME))
        ok = n == nz
        results[copies] = (wall, drss, ok, n)
        print(f"casa-update {copies}x: rows={n} wall={wall:.2f}s "
              f"driver-rss-delta={drss:.0f}MB written-cells={nz} "
              f"{'OK' if ok else 'MISMATCH'}", flush=True)
        assert ok, f"casa {copies}x wrote {nz} cells for {n} rows"
    return results


def main():
    import tempfile

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("stress-writes")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = tempfile.mkdtemp(prefix="stress_writes_")
    z = zarr_leg(spark, sf_dir, out_dir)
    c = casa_leg(spark, sf_dir)
    zr, cr = z[10][0] / max(z[1][0], 1e-9), c[10][0] / max(c[1][0], 1e-9)
    print(f"zarr wall 10x/1x = {zr:.2f}; casa wall 10x/1x = {cr:.2f}; "
          f"rss deltas zarr {z[1][1]:.0f}->{z[10][1]:.0f}MB, "
          f"casa {c[1][1]:.0f}->{c[10][1]:.0f}MB")


if __name__ == "__main__":
    main()
