"""Multi-format IO: load/save + glob-union readers (SURVEY §2.1 S1-S6, S10-S12).

The reference dispatches on file extension (read_pset.py:78-90), glob-unions
per-PSet `.jay` shards (combine_pset_tables.py:213-271), and writes `.jay`
memory-mapped files "for fast write to disk" (write_pset_table.py:34-39).

Spark-first mapping:
- one lazy ``load(spark, path, fmt)`` covering csv/csv.gz (codec transparent),
  parquet, json, text;
- glob-union = a single multi-path ``spark.read`` (one scan node, partition-
  parallel — NOT a loop of reads + union, which would defeat file pruning);
- `.jay` replaced by Parquet, the columnar mmap-equivalent that scales past
  one node; per-dataset sinks use ``partitionBy`` so downstream per-dataset
  reads prune partitions instead of regex-filtering file lists
  (combine_pset_tables.py:227-228).
"""

from __future__ import annotations

import os
import re
import warnings
from collections.abc import Mapping
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_EXT_FMT = [
    (re.compile(r"\.csv(\.gz)?$", re.I), "csv"),
    (re.compile(r"\.parquet$", re.I), "parquet"),
    (re.compile(r"\.json(\.gz)?$", re.I), "json"),
    (re.compile(r"\.txt$", re.I), "text"),
]


def infer_format(path: str) -> str:
    """Extension dispatch, as the reference's read_pset_file (read_pset.py:78-90)."""
    for pat, fmt in _EXT_FMT:
        if pat.search(path):
            return fmt
    raise ValueError(f"cannot infer format for {path}")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` resolved through Hadoop — works for
    local paths AND hdfs:// / s3a:// URIs, unlike ``os.path`` which silently
    answers for the driver's local disk only."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-scheme-aware existence check (Hadoop FS API)."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def load(
    spark: SparkSession,
    path: str | list[str],
    fmt: str | None = None,
    schema: T.StructType | str | None = None,
    na_value: str = "NA",
    infer_sampling: float | None = None,
    **options,
) -> DataFrame:
    """Lazy multi-format reader (S1).

    CSV defaults mirror the reference's readers: header row, the ``NA``
    null sentinel (polars ``null_values="NA"``, build_synonym_tables.py:37,153
    — and the NA-as-string pitfall noted at :97), schema inference only when
    no contract is given (read_pset.py:78-90 infers; our engine prefers
    explicit schemas so scans skip the inference pass at scale).

    Scale note: schemaless CSV/JSON inference reads the data TWICE (one
    inference pass, one real scan) — fine for metadata-scale sheets, wrong
    for corpus-scale inputs. Pass ``schema`` for anything large; as a
    middle ground, ``infer_sampling=0.01`` caps the inference pass to a
    sample (Spark's ``samplingRatio``). A schemaless large read emits a
    warning rather than silently paying the double scan.
    """
    first = path if isinstance(path, str) else path[0]
    fmt = fmt or infer_format(first)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json") and infer_sampling is None:
        warnings.warn(
            f"io.load({first!r}): schemaless {fmt} read infers types with a "
            "full extra pass over the data; pass schema=... (preferred) or "
            "infer_sampling=... for large inputs",
            stacklevel=2,
        )
    if fmt == "csv":
        opts = {"header": "true", "nullValue": na_value}
        if schema is None:
            opts["inferSchema"] = "true"
            if infer_sampling is not None:
                opts["samplingRatio"] = str(infer_sampling)
        opts.update({k: str(v) for k, v in options.items()})
        reader = reader.options(**opts)
    elif options:
        reader = reader.options(**{k: str(v) for k, v in options.items()})
    paths = path if isinstance(path, list) else [path]
    return reader.format(fmt).load(paths)


def load_table_all_shards(
    spark: SparkSession,
    name: str,
    data_dir: str,
    schema: T.StructType | None = None,
    dedup: bool = True,
    key_columns: list[str] | None = None,
) -> DataFrame:
    """Glob-union loader (S3/S4): read every ``{dir}/{p}/{p}_{name}.parquet``
    shard as ONE scan, union-by-name with missing-column tolerance, dedupe.

    Re-expresses load_table / fread_table_for_all_psets
    (combine_pset_tables.py:213-271: glob → regex filter → rbind(force=True)
    → dedupe). The regex filter (P7, :227-228) matters: the bare glob
    ``*/*_{name}.parquet`` also matches ``{p}_dataset_{name}`` and, for
    ``cell``, ``{p}_mol_cell``, so the Spark driver keeps only the glob hits whose
    stem is their directory's name and reads those in one multi-path scan;
    no hit raises ``FileNotFoundError``. ``rbind(force=True)`` ≡
    ``unionByName(allowMissingColumns)``; with a declared schema we instead
    read all shards in one ``spark.read.schema(...)`` pass (missing columns
    become nulls via parquet schema merging), keeping a single
    partition-parallel scan node.
    """
    fs, hpattern = _hadoop_fs(spark, os.path.join(data_dir, "*", f"*_{name}.parquet"))
    paths = [
        st.getPath().toString()
        for st in fs.globStatus(hpattern) or []
        if st.getPath().getName() == f"{st.getPath().getParent().getName()}_{name}.parquet"
    ]
    if not paths:
        raise FileNotFoundError(f"no {{p}}/{{p}}_{name}.parquet shard under {data_dir}")
    reader = spark.read
    if schema is not None:
        df = reader.schema(schema).parquet(*paths)
    else:
        df = reader.option("mergeSchema", "true").parquet(*paths)
    if key_columns:
        # first-per-key (S4: combine_pset_tables.py:266-270)
        df = df.dropDuplicates(key_columns)
    elif dedup:
        df = df.dropDuplicates()
    return df


def union_by_name(dfs: list[DataFrame]) -> DataFrame:
    """U1: rbind(force=True) ≡ unionByName(allowMissingColumns=True)
    (combine_pset_tables.py:229-230, build_target_tables.py:73-74)."""
    if not dfs:
        raise ValueError("union_by_name of empty list")
    out = dfs[0]
    for other in dfs[1:]:
        out = out.unionByName(other, allowMissingColumns=True)
    return out


def save(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Table sink (S10/S11/S12). Parquet replaces `.jay`
    (write_pset_table.py:34-39); ``partition_by`` replaces the
    per-PSet-subdirectory convention (write_pset_table.py:20-33) so reads
    prune partitions. ``sort_by`` clusters rows within files
    (combine_pset_tables.py:207-208 write-time sort) without forcing a
    single output partition."""
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


# Canonical physical layouts for the combine-phase output tables
# (write_pset_table.py:20-39 writes flat .jay files; at 100 TB each table
# gets a layout matched to its access pattern):
# - partition_by: the per-dataset access path (reads prune partitions)
# - bucket_by:    the hot join key (co-located joins, no shuffle)
# - sort_by:      within-bucket clustering (row-group stat pruning)
CANONICAL_LAYOUTS: dict[str, dict] = {
    "experiment": {
        "partition_by": ["dataset_id"],
        "bucket_by": (["cell_id"], 16),
        "sort_by": ["cell_id", "compound_id"],
    },
    "dose_response": {"bucket_by": (["experiment_id"], 16), "sort_by": ["experiment_id"]},
    "profile": {"bucket_by": (["experiment_id"], 16), "sort_by": ["experiment_id"]},
    "mol_cell": {"partition_by": ["dataset_id"], "sort_by": ["cell_id"]},
    "dataset_statistics": {"sort_by": ["dataset_id"]},
}


# Table formats the canonical sinks can target. "parquet" is the OSS-only
# default implemented here; "delta" / "iceberg" are the transactional
# formats a production deployment slots in — the write/merge call shapes
# are wired, and the format libraries are detected at call time (this
# container ships neither, so the paths raise a clear setup error rather
# than import at module load).
SUPPORTED_TABLE_FORMATS = ("parquet", "delta", "iceberg")


def _require_table_format(spark: SparkSession, table_format: str) -> None:
    """Fail fast with setup instructions when a transactional format is
    requested but its library/extension isn't on this session."""
    if table_format == "parquet":
        return
    if table_format == "delta":
        try:
            import delta  # noqa: F401  (delta-spark, OSS)
        except ImportError as ex:
            raise NotImplementedError(
                "table_format='delta' needs the OSS delta-spark package and a "
                "session built with spark.sql.extensions="
                "io.delta.sql.DeltaSparkSessionExtension and "
                "spark.sql.catalog.spark_catalog="
                "org.apache.spark.sql.delta.catalog.DeltaCatalog"
            ) from ex
        return
    if table_format == "iceberg":
        exts = spark.conf.get("spark.sql.extensions", "") or ""
        if "IcebergSparkSessionExtensions" not in exts:
            raise NotImplementedError(
                "table_format='iceberg' needs the OSS iceberg-spark-runtime "
                "jar and a session built with spark.sql.extensions="
                "org.apache.iceberg.spark.extensions."
                "IcebergSparkSessionExtensions plus an Iceberg catalog "
                "(spark.sql.catalog.<name>=org.apache.iceberg.spark."
                "SparkCatalog)"
            )
        return
    raise ValueError(
        f"unknown table_format {table_format!r}; "
        f"supported: {SUPPORTED_TABLE_FORMATS}"
    )


def canonical_table_name(table: str, base_dir: str) -> str:
    """Catalog identifier for a canonical bucketed table: the logical name
    namespaced by a digest of its base directory, so the same logical table
    written to two locations gets two catalog entries instead of silently
    re-pointing one global name."""
    import hashlib

    digest = hashlib.md5(os.path.abspath(base_dir).encode()).hexdigest()[:8]
    return f"{table}_{digest}"


def save_canonical(
    df: DataFrame,
    table: str,
    base_dir: str,
    layout: dict | None = None,
    table_format: str = "parquet",
) -> str:
    """Write a combine-phase output table in its canonical layout
    (CANONICAL_LAYOUTS, overridable). Bucketed layouts go through
    ``saveAsTable`` (bucket metadata lives in the catalog — Spark's
    requirement for shuffle-free bucketed joins); plain layouts are
    path-based parquet. Unknown tables default to a flat sorted write.

    ``table_format`` switches the sink to a transactional format ("delta" /
    "iceberg" — detected at call time, see SUPPORTED_TABLE_FORMATS). Those
    formats manage file layout themselves and don't support Spark-side
    ``bucketBy``, so a bucketed layout degrades to partition + in-file sort
    there (their native clustering — OPTIMIZE ZORDER / rewrite_data_files —
    is the analog of operators/clustering.py::zorder-style interleaving).

    Returns the read handle: for bucketed layouts the (base_dir-namespaced,
    see ``canonical_table_name``) catalog identifier for ``spark.table``;
    for path layouts the output path for ``spark.read.parquet``."""
    if table_format not in SUPPORTED_TABLE_FORMATS:
        raise ValueError(
            f"unknown table_format {table_format!r}; "
            f"supported: {SUPPORTED_TABLE_FORMATS}"
        )
    _require_table_format(df.sparkSession, table_format)
    spec = layout if layout is not None else CANONICAL_LAYOUTS.get(table, {})
    sort_by = spec.get("sort_by")
    out_path = os.path.join(base_dir, table)
    if table_format != "parquet":
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        writer = df.write.mode("overwrite").format(table_format)
        if spec.get("partition_by"):
            writer = writer.partitionBy(*spec["partition_by"])
        writer.save(out_path)
        return out_path
    if spec.get("bucket_by"):
        writer = df.write.mode("overwrite").format("parquet")
        if spec.get("partition_by"):
            writer = writer.partitionBy(*spec["partition_by"])
        cols, n = spec["bucket_by"]
        writer = writer.bucketBy(n, *cols)
        if sort_by:
            writer = writer.sortBy(*sort_by)  # in-bucket clustering
        ident = canonical_table_name(table, base_dir)
        writer.option("path", out_path).saveAsTable(ident)
        return ident
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode("overwrite").format("parquet")
    if spec.get("partition_by"):
        writer = writer.partitionBy(*spec["partition_by"])
    writer.save(out_path)
    return out_path


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_by: str | None = None,
    table_format: str = "parquet",
) -> None:
    """Upsert (MERGE) into a keyed table: rows of ``updates`` replace target
    rows with the same ``key_cols``; new keys append. The reference's write
    path is overwrite-whole-table (write_pset_table.py) — this is its
    incremental counterpart.

    ``table_format="parquet"`` (default) is the OSS-only stand-in
    implemented below; ``"delta"`` routes to the real transactional MERGE
    (DeltaTable.merge — ACID, no read-modify-write race), detected at call
    time. Iceberg's MERGE INTO needs a catalog table identifier rather than
    a path, so it is out of this path-based helper's scope (use
    ``spark.sql("MERGE INTO cat.tbl ...")`` directly there).

    Scale path: with ``partition_by`` + dynamic partition overwrite, ONLY
    partitions containing updated keys are read, merged, and rewritten —
    touch 1 of 10 000 partitions and 9 999 stay as-is. Without
    ``partition_by`` the whole target rewrites (documented cost); the
    transactional formats additionally prune by file-level key stats.
    The merged frame is ``localCheckpoint``-materialized before the write
    because Spark cannot overwrite files that are still an input of the
    running plan."""
    if table_format == "delta":
        _require_table_format(spark, "delta")
        from delta.tables import DeltaTable  # gated: delta-spark optional

        cond = " AND ".join(f"t.{k} <=> u.{k}" for k in key_cols)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(updates.alias("u"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    if table_format != "parquet":
        raise ValueError(
            f"merge_upsert supports table_format 'parquet' or 'delta', "
            f"got {table_format!r}"
        )
    target = spark.read.parquet(path)
    if partition_by:
        new_parts = updates.select(partition_by).distinct()
        if partition_by in key_cols:
            # partition value is part of the key → a key can never move
            # between partitions; the updates' own partition values are the
            # complete affected set (no target scan needed to find them).
            affected_parts = new_parts
        else:
            # a key's partition value may CHANGE in this batch; the key's
            # old row lives in a partition the updates never mention. Find
            # those source partitions by semi-joining the target on the key
            # columns, so the stale row is read (and dropped by the
            # anti-join below) rather than left behind as a duplicate.
            old_parts = (
                target.join(
                    F.broadcast(updates.select(*key_cols).distinct()),
                    key_cols,
                    "left_semi",
                )
                .select(partition_by)
                .distinct()
            )
            affected_parts = new_parts.unionByName(old_parts).distinct()
        affected = target.join(F.broadcast(affected_parts), partition_by, "left_semi")
        keep = affected.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = keep.unionByName(updates).localCheckpoint()
        # Dynamic overwrite only rewrites partitions PRESENT in `merged`: a
        # source partition whose every row belonged to moved keys ends up
        # with zero surviving rows, is absent from the write, and would keep
        # its stale files. Find those before the overwrite (collect is
        # bounded: distinct partition values of one batch) and drop their
        # directories afterwards. Evaluated pre-write so nothing re-reads
        # the target after its files are replaced.
        emptied = (
            affected_parts.join(
                merged.select(partition_by).distinct(), partition_by, "left_anti"
            )
            .collect()
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(partition_by).parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        if emptied:
            fs, _ = _hadoop_fs(spark, path)
            jvm_path = spark._jvm.org.apache.hadoop.fs.Path
            for row in emptied:
                part_dir = jvm_path(f"{path}/{partition_by}={row[0]}")
                if fs.exists(part_dir):
                    fs.delete(part_dir, True)
    else:
        keep = target.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = keep.unionByName(updates).localCheckpoint()
        merged.write.mode("overwrite").parquet(path)


def read_pset_catalog(
    spark: SparkSession,
    pset_dir: str,
    schemas: Mapping[str, T.StructType | str] | None = None,
    infer_sampling: float | None = None,
) -> dict[str, DataFrame]:
    """Directory→catalog scan (S2): list a PSet export directory, split each
    filename on ``$`` into its slot path, strip ``.*@|.csv(.gz)?$|.parquet$|
    .txt$`` (read_pset.py:40-74), and return ``{'slot$sub': DataFrame}``.

    The reference eagerly reads every file through a swifter-parallel pandas
    apply (read_pset.py:63-64); here the catalog holds *lazy* DataFrames —
    nothing is read until a downstream action, and Spark parallelizes each
    file scan itself (SURVEY §2.10 X1).

    ``schemas`` maps slot keys (``'sensitivity$info'``) to declared
    contracts (``StructType`` or DDL string — the schema.py convention):
    slots with a contract skip CSV/JSON type inference entirely, so the
    scan reads the data once (VERDICT r6 item 8 — without this the
    engine's own double-scan warning fires on its own catalog reads).
    Unknown slots fall back to ``infer_sampling``-bounded inference.

    Building a lazy frame still launches jobs: schema inference costs a
    CSV slot two and a Parquet slot one footer read. The slots are
    independent, so their ``load`` calls run on a thread pool bounded by
    the session's ``defaultParallelism``; each call is wrapped in
    ``inheritable_thread_target`` from the calling thread, so its jobs
    carry the caller's job group and description. The returned dict is
    the same as a serial scan's, keys in sorted filename order.
    """
    schemas = schemas or {}
    slots: dict[str, str] = {}
    for fname in sorted(os.listdir(pset_dir)):
        if fname.startswith("."):
            continue  # hidden-file filter, read_pset.py:48
        base = re.sub(r"@.*$|\.csv(\.gz)?$|\.parquet$|\.txt$", "", fname)
        key = base  # "$"-separated slot path, e.g. "sensitivity$info"
        slots[key] = os.path.join(pset_dir, fname)
    if not slots:
        return {}

    def _load(key: str) -> DataFrame:
        return load(spark, slots[key], schema=schemas.get(key), infer_sampling=infer_sampling)

    # One wrap per slot, made here in the calling thread: each wrap clones
    # the caller's local properties, so concurrent SQL executions never
    # share one Properties object. The session form of the wrapper fails
    # when PySpark's pinned-thread mode is off; the callable form works in
    # both modes and warns only that job tags, unused here, are not copied.
    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", "Spark session is not provided")
        targets = [inheritable_thread_target(_load) for _ in slots]
    workers = min(len(slots), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(t, k) for t, k in zip(targets, slots)]
        return {k: f.result() for k, f in zip(slots, futures)}


def with_source_file(df: DataFrame, col_name: str = "_source_file") -> DataFrame:
    """P7 companion: expose the originating file for regex row filters over
    multi-file scans (combine_pset_tables.py:227-228) without a driver-side
    file loop."""
    return df.withColumn(col_name, F.input_file_name())
