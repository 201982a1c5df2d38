"""Storage dispatch: route a URL to the right format reader/writer.

Reference S6/S10: ``xds_from_storage_table`` probes for ``table.dat``
(CASA), ``.zgroup`` (zarr) or ``*.parquet``
(daskms/dask_ms.py:341-439, daskms/fsspec_store.py:59-82) and supports
a ``::SUBTABLE`` url suffix (daskms/fsspec_store.py:17-189).

Spark natively speaks any Hadoop-compatible filesystem (file://, s3a://,
...), so the store abstraction reduces to path parsing + format probing.
Zarr v2 stores read/write natively (see zarr.py — executor-side chunk
I/O, no zarr package needed for uncompressed stores); CASA needs
python-casacore and stays import-gated — the reference itself blesses
conversion to cloud-native formats as the scale path (``dask-ms
convert``, daskms/apps/convert.py:139-280).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import SparkSession

from ..dataset import Dataset, concat, partition_datasets, regroup_stored
from . import casa, zarr
from .parquet import scan_parquet, xds_from_parquet, xds_to_parquet

__all__ = ["TableStore", "infer_format", "xds_from_storage_table",
           "xds_to_storage_table"]

# fsspec/s3fs-style option names -> Hadoop s3a configuration keys
# (the reference forwards storage_options into fsspec,
# daskms/fsspec_store.py:17-48; on Spark the same knobs live in the
# Hadoop configuration consumed by the s3a committer/reader)
_S3_OPTION_MAP = {
    "key": "fs.s3a.access.key",
    "username": "fs.s3a.access.key",
    "secret": "fs.s3a.secret.key",
    "password": "fs.s3a.secret.key",
    "token": "fs.s3a.session.token",
    "endpoint_url": "fs.s3a.endpoint",
    "region_name": "fs.s3a.endpoint.region",
}

_ANON_PROVIDER = ("org.apache.hadoop.fs.s3a."
                  "AnonymousAWSCredentialsProvider")

# schemes Spark's Hadoop layer serves under a different name
_SCHEME_ALIASES = {"s3": "s3a", "s3n": "s3a"}


@dataclass
class TableStore:
    """Parsed table url: ``scheme://bucket/store::SUBTABLE`` convention
    (daskms/fsspec_store.py:120-140) plus fsspec-style
    ``storage_options`` mapped onto the Hadoop configuration."""

    url: str
    subtable: str | None = None
    storage_options: dict = field(default_factory=dict)

    @classmethod
    def parse(cls, url: str,
              storage_options: dict | None = None) -> "TableStore":
        if "::" in url:
            base, subtable = url.rsplit("::", 1)
            return cls(base, subtable, dict(storage_options or {}))
        return cls(url, None, dict(storage_options or {}))

    @property
    def scheme(self) -> str:
        m = re.match(r"^([A-Za-z0-9]+)://", self.url)
        return m.group(1).lower() if m else "file"

    @property
    def is_local(self) -> bool:
        return self.scheme == "file" and "://" not in self.url

    @property
    def path(self) -> str:
        """Spark-readable path: scheme normalised (s3 -> s3a), subtable
        appended."""
        url = self.url
        alias = _SCHEME_ALIASES.get(self.scheme)
        if alias:
            url = re.sub(r"^[A-Za-z0-9]+://", f"{alias}://", url)
        if not self.subtable:
            return url
        if self.is_local:
            return os.path.join(url, self.subtable)
        return f"{url.rstrip('/')}/{self.subtable}"

    def hadoop_options(self) -> dict[str, str]:
        """Translate fsspec-style ``storage_options`` to Hadoop conf
        entries.  Keys containing a dot pass through verbatim (raw
        Hadoop keys, e.g. ``fs.s3a.connection.maximum``); unknown
        fsspec names raise so typos don't silently fall back to
        instance credentials.
        """
        out: dict[str, str] = {}
        opts = dict(self.storage_options)
        client_kwargs = opts.pop("client_kwargs", {}) or {}
        for k, v in {**opts, **client_kwargs}.items():
            if "." in k:
                out[k] = str(v)
            elif k in _S3_OPTION_MAP:
                out[_S3_OPTION_MAP[k]] = str(v)
            elif k == "anon":
                if v:
                    out["fs.s3a.aws.credentials.provider"] = _ANON_PROVIDER
            elif k == "use_ssl":
                out["fs.s3a.connection.ssl.enabled"] = str(bool(v)).lower()
            elif k == "path_style":
                out["fs.s3a.path.style.access"] = str(bool(v)).lower()
            else:
                raise ValueError(
                    f"unsupported storage option {k!r}; use a raw "
                    "Hadoop key (contains '.') or one of "
                    f"{sorted(_S3_OPTION_MAP) + ['anon', 'use_ssl', 'path_style', 'client_kwargs']}")
        return out

    def apply(self, spark: SparkSession) -> dict[str, str]:
        """Set the mapped options on the session's Hadoop
        configuration; returns what was applied."""
        mapped = self.hadoop_options()
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in mapped.items():
            hconf.set(k, v)
        return mapped


def infer_format(path: str, spark: SparkSession | None = None) -> str:
    """Probe the store layout (daskms/fsspec_store.py:59-82):
    ``table.dat`` -> casa, ``.zgroup``/``.zarray`` -> zarr, else parquet.

    Local paths probe via ``os``; remote URLs probe through the JVM
    Hadoop filesystem when a session is supplied (zero-byte marker
    reads), else default to parquet — the blessed cloud-native format.

    JSON (the lingua franca of text-corpus ingest) is recognised by
    extension — works identically for local and remote URLs, no probe
    I/O.  ``.jsonl``/``.ndjson`` are line-delimited by convention;
    plain ``.json`` means a standard (possibly multi-line /
    array-rooted) document and reads with ``multiLine`` — the
    extension decides, because Spark's default line-delimited parse
    turns a pretty-printed document into ``_corrupt_record`` rows.
    """
    low = path.rstrip("/").lower()
    if low.endswith((".jsonl", ".ndjson", ".jsonl.gz", ".ndjson.gz")):
        return "jsonl"
    if low.endswith((".json", ".json.gz")):
        return "json"
    if "://" in path:
        if spark is None:
            return "parquet"
        try:
            jvm = spark.sparkContext._jvm
            conf = spark.sparkContext._jsc.hadoopConfiguration()
            p = jvm.org.apache.hadoop.fs.Path(path)
            fs = p.getFileSystem(conf)

            def exists(name: str) -> bool:
                return fs.exists(jvm.org.apache.hadoop.fs.Path(
                    f"{path.rstrip('/')}/{name}"))

            if exists("table.dat"):
                return "casa"
            if exists(".zgroup") or exists(".zarray") \
                    or exists("zarr.json"):
                return "zarr"
        except Exception:
            # probe failure (e.g. filesystem jars absent) falls back
            # to parquet; the scan will surface the real error
            pass
        return "parquet"
    if os.path.exists(os.path.join(path, "table.dat")):
        return "casa"
    if (os.path.exists(os.path.join(path, ".zgroup"))
            or os.path.exists(os.path.join(path, ".zarray"))
            or os.path.exists(os.path.join(path, "zarr.json"))):
        return "zarr"
    return "parquet"


def xds_from_storage_table(spark: SparkSession, url: str,
                           columns: Iterable[str] | None = None,
                           group_cols: Iterable[str] = (),
                           index_cols: Iterable[str] = (),
                           where: str | None = None,
                           storage_options: dict | None = None,
                           taql_where: str | None = None,
                           taql_mscal: dict | None = None
                           ) -> list[Dataset]:
    """Format-dispatched read (reference daskms/dask_ms.py:341-380).

    ``storage_options`` (fsspec-style, e.g. ``{"key": ..., "secret":
    ..., "endpoint_url": ...}`` for s3) are mapped onto the Hadoop
    configuration before the scan — the Spark analogue of the
    reference's fsspec plumb-through (daskms/fsspec_store.py:17-48).

    ``taql_where`` accepts the reference's TAQL predicate string
    (daskms/dask_ms.py:236-241) and translates the supported subset
    to Spark SQL (taql.py) — an existing ``taql_where=`` call site
    keeps working verbatim; combined with ``where`` via AND.
    ``taql_mscal`` supplies the site/direction geometry for tier-7
    MSCAL derived columns in the predicate (taql.py docstring).
    """
    store = TableStore.parse(url, storage_options)
    deferred_taql = None
    if taql_where:
        from ..taql import taql_where_to_sql

        try:
            translated = taql_where_to_sql(taql_where,
                                           mscal=taql_mscal)
            where = (f"({where}) AND ({translated})"
                     if where else translated)
        except ValueError as err:
            if "ambiguous without a schema" not in str(err):
                raise
            # SUM/MIN/MAX/MEAN over a column that may be an array:
            # defer translation until the store is local and the
            # format is known, then bind the scan schema (parquet: a
            # footer-only read; zarr: .zarray metadata; casa: the
            # reader's own table probe) and retranslate.
            deferred_taql = err
    if store.scheme in ("s3", "s3a", "s3n"):
        from . import s3staging

        if not s3staging.jvm_s3a_available(spark):
            # jar-less environment: stage the prefix via boto3 and
            # recurse on the local copy (bounded-data fallback; the
            # scale path is native s3a via the conf mapping below).
            # A ::SUBTABLE read stages ONLY the subtable directory —
            # the main table may be orders of magnitude larger.  A
            # deferred taql predicate rides through untranslated and
            # binds against the LOCAL copy's schema in the recursion.
            remote = (f"{store.url.rstrip('/')}/{store.subtable}"
                      if store.subtable else store.url)
            local = s3staging.download_prefix(
                remote, store.storage_options,
                s3staging.staging_dir())
            return xds_from_storage_table(
                spark, local, columns, group_cols, index_cols, where,
                taql_where=taql_where if deferred_taql else None,
                taql_mscal=taql_mscal)
    if store.storage_options:
        store.apply(spark)
    fmt = infer_format(store.path, spark)
    if deferred_taql is not None:
        if fmt == "parquet" and store.scheme in ("", "file"):
            peek = scan_parquet(spark, store.path).schema
            translated = taql_where_to_sql(taql_where, schema=peek,
                                           mscal=taql_mscal)
        elif fmt == "casa":
            # the casa reader binds its own probed schema
            return casa.xds_from_casa(spark, store.path, columns,
                                      group_cols, index_cols, where,
                                      taql_where=taql_where,
                                      taql_mscal=taql_mscal)
        elif fmt == "zarr" and store.scheme in ("", "file"):
            translated = taql_where_to_sql(
                taql_where, schema=zarr.peek_array_columns(store.path),
                mscal=taql_mscal)
        else:
            raise ValueError(
                f"{deferred_taql}\n(xds_from_storage_table binds the "
                "schema automatically for local parquet/zarr/casa "
                "stores; for this format call taql_where_to_sql("
                "expr, schema=df.schema) and pass where=)"
            ) from deferred_taql
        where = f"({where}) AND ({translated})" if where else translated
    if fmt == "parquet":
        return xds_from_parquet(spark, store.path, columns,
                                group_cols, index_cols, where)
    if fmt in ("jsonl", "json"):
        # corpus ingest: line-delimited JSON scans split per line in
        # parallel (gzip members permitting); schema inference samples
        # the data, so production callers should convert to parquet
        # once (convert_table) and query the columnar copy.  Plain
        # .json documents need multiLine (one value per FILE, not per
        # line — no intra-file parallelism, fine for small configs).
        reader = spark.read
        if fmt == "json":
            reader = reader.option("multiLine", "true")
        df = reader.json(store.path)
        return partition_datasets(df, group_cols, index_cols, where,
                                  columns)
    if fmt == "casa":
        return casa.xds_from_casa(spark, store.path, columns,
                                  group_cols, index_cols, where)
    # zarr reads take only a column projection; grouping/ordering/filter
    # apply to the lazy frames afterwards, matching the parquet leg.
    # Keys the stored partition key covers regroup the stored groups
    # (no job, each dataset reads only its own chunks); any other key
    # re-derives the groups from the union.
    group_cols = list(group_cols)
    index_cols = list(index_cols)
    read_cols = None
    if where is None and columns is not None:
        # the filter may reference unprojected columns; without one
        # read only what the datasets keep
        read_cols = list(dict.fromkeys(
            list(columns) + group_cols + index_cols))
    dss = zarr.xds_from_zarr(spark, store.path, read_cols)
    if not (group_cols or index_cols or where or
            (columns is not None and read_cols != list(columns or ()))):
        return dss
    out = regroup_stored(dss, group_cols, index_cols, where, columns)
    if out is None:
        out = partition_datasets(concat(dss), group_cols, index_cols,
                                 where, columns)
    return out


def xds_to_storage_table(datasets, url: str, fmt: str | None = None,
                         partition_cols: Iterable[str] | None = None,
                         mode: str = "overwrite",
                         storage_options: dict | None = None,
                         compressor: dict | None = None,
                         descriptor: dict | str | None = None,
                         table_factory=None,
                         create_factory=None,
                         max_chunk_mem: int | None = None) -> None:
    """Format-dispatched write (reference daskms/dask_ms.py:383-439).

    ``fmt=None`` infers from the url the same way the READ side does
    (a ``.jsonl`` extension is binding on both sides — writing parquet
    bytes into a path later dispatched to the JSON reader would
    corrupt the round trip), defaulting to parquet.  An explicit
    ``fmt`` always wins.

    ``fmt="casa"`` on an EXISTING CASA table routes to the ROWID
    update path (``xds_to_casa``); on a nonexistent target it CREATES
    the table from a descriptor and fills it (reference create mode,
    daskms/writes.py:258-308; convert's CASA output,
    daskms/apps/convert.py:201-222) — ``descriptor`` takes a dict,
    ``None`` (schema-derived) or a builder spec like ``"ms"`` /
    ``"ms('ANTENNA')"``.  ``table_factory`` / ``create_factory`` are
    the python-casacore seams (testable with fakes; import-gated
    defaults otherwise).
    """
    store = TableStore.parse(url, storage_options)
    if fmt is None:
        # infer from the REMOTE url before any staging indirection:
        # the extension is binding on both sides of the round trip
        ext = infer_format(store.path)
        fmt = ext if ext in ("jsonl", "json") else "parquet"
    if store.scheme in ("s3", "s3a", "s3n"):
        ds0 = datasets[0] if isinstance(datasets, list) else datasets
        df0 = ds0.df if isinstance(ds0, Dataset) else ds0
        from . import s3staging

        if not s3staging.jvm_s3a_available(df0.sparkSession):
            # jar-less environment: write locally, mirror via boto3.
            # A ::SUBTABLE write targets only the subtable prefix.
            remote = (f"{store.url.rstrip('/')}/{store.subtable}"
                      if store.subtable else store.url)
            opts = store.storage_options
            existed = s3staging.prefix_exists(remote, opts)
            if existed and mode in ("error", "errorifexists"):
                raise FileExistsError(
                    f"{remote} exists and mode={mode!r}")
            local = os.path.join(s3staging.staging_dir("dms_s3w_"),
                                 os.path.basename(
                                     store.url.rstrip("/")) or "table")
            if existed and fmt == "casa":
                # CASA writes are in-place ROWID updates on an
                # existing table: stage it down so the local dispatch
                # sees table.dat and takes the UPDATE path, then
                # mirror the whole table back
                import shutil

                staged = s3staging.download_prefix(
                    remote, opts, s3staging.staging_dir("dms_s3r_"))
                shutil.copytree(staged, local)
            out = xds_to_storage_table(
                datasets, local, fmt, partition_cols, mode,
                None, compressor, descriptor, table_factory,
                create_factory, max_chunk_mem)
            if existed and mode == "overwrite":
                # append merges with remote state; overwrite replaces
                s3staging.delete_prefix(remote, opts)
            s3staging.upload_dir(local, remote, opts)
            return out
    if fmt == "json":
        raise ValueError(
            "writing multi-line .json documents is not supported; use "
            "a .jsonl path (or fmt='jsonl') for line-delimited output")
    if store.storage_options:
        ds0 = datasets[0] if isinstance(datasets, list) else datasets
        df0 = ds0.df if isinstance(ds0, Dataset) else ds0
        store.apply(df0.sparkSession)
    if fmt == "parquet":
        return xds_to_parquet(datasets, store.path, partition_cols, mode)
    if fmt == "jsonl":
        dss = datasets if isinstance(datasets, list) else [datasets]
        dss = [d if isinstance(d, Dataset) else Dataset(d) for d in dss]
        df = concat(dss) if len(dss) > 1 else dss[0].df
        writer = df.write.mode(mode)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        return writer.json(store.path)
    if fmt == "casa":
        target = store.path
        exists = (os.path.exists(os.path.join(target, "table.dat"))
                  if "://" not in target else
                  infer_format(target, _datasets_session(datasets))
                  == "casa")
        # dispatch on target existence ALONE: an existing table is
        # always a ROWID update (routing it into create because a
        # create_factory happened to be passed would overwrite or
        # fail); factories forward to whichever path is chosen
        if exists:
            return casa.xds_to_casa(datasets, target,
                                    table_factory=table_factory)
        casa.create_casa_table(datasets, target,
                               create_factory=create_factory,
                               descriptor=descriptor)
        return None
    return zarr.xds_to_zarr(datasets, store.path,
                            compressor=compressor,
                            max_chunk_mem=max_chunk_mem)


def _datasets_session(datasets) -> SparkSession:
    ds0 = datasets[0] if isinstance(datasets, list) else datasets
    df0 = ds0.df if isinstance(ds0, Dataset) else ds0
    return df0.sparkSession
