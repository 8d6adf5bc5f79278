"""io readers: the PSet directory catalog scan (S2) and the per-PSet shard
glob-union (S3/S4, with the reference's P7 file-name filter)."""

from __future__ import annotations

import gzip
import os
import subprocess
import sys
import uuid

import pandas as pd
import pytest
from pyspark.sql import DataFrame

from pharmacodi_spark.io import load_table_all_shards, read_pset_catalog
from pharmacodi_spark.pipelines.combine import combine_dim

CELL_CSV = "cellid,tissueid\nc1,lung\nc2,NA\n"
SCHEMAS = {
    "cell": "cellid string, tissueid string",
    "drug": "drugid string, cid int",
    "molecularProfiles$rna$rowData": "`.features` string",
    "sensitivity$info": "experiment string, cellid string",
}


@pytest.fixture(scope="module")
def pset_dir(tmp_path_factory):
    """A PSet export directory with CSV, CSV.gz and Parquet slots, an
    ``@``-suffixed file and a hidden file."""
    d = tmp_path_factory.mktemp("pset")
    (d / "cell.csv").write_text(CELL_CSV)
    with gzip.open(d / "drug.csv.gz", "wt") as fh:
        fh.write("drugid,cid\ndA,101\ndB,NA\n")
    (d / "molecularProfiles$rna$rowData@2021-01.csv").write_text(".features\nG1\nG2\nG3\n")
    pd.DataFrame({"experiment": ["e1", "e2"], "cellid": ["c1", "c2"]}).to_parquet(
        d / "sensitivity$info.parquet"
    )
    (d / ".hidden.csv").write_text("x\n1\n")
    return str(d)


def _jobs_in_group(spark, call):
    """Run ``call`` under a fresh job group; return (its result, the ids of
    jobs in that group, the ids of new jobs with no group)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"catalog-{uuid.uuid4().hex}"
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "read_pset_catalog test")
    try:
        out = call()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    return out, set(tracker.getJobIdsForGroup(group)), ungrouped


def test_read_pset_catalog_keys_frames_and_job_group(spark, pset_dir):
    cat, grouped, ungrouped = _jobs_in_group(spark, lambda: read_pset_catalog(spark, pset_dir))
    assert list(cat) == [
        "cell", "drug", "molecularProfiles$rna$rowData", "sensitivity$info",
    ]
    assert all(isinstance(df, DataFrame) for df in cat.values())
    assert cat["cell"].columns == ["cellid", "tissueid"]
    assert [tuple(r) for r in cat["drug"].collect()] == [("dA", 101), ("dB", None)]
    assert cat["molecularProfiles$rna$rowData"].count() == 3
    assert sorted(r.experiment for r in cat["sensitivity$info"].collect()) == ["e1", "e2"]
    # schema inference runs jobs on the pool's threads; every one of them
    # must carry the caller's job group, none may escape it
    assert grouped
    assert not ungrouped


def test_read_pset_catalog_declared_schemas_launch_no_job(spark, pset_dir):
    cat, grouped, ungrouped = _jobs_in_group(
        spark, lambda: read_pset_catalog(spark, pset_dir, schemas=SCHEMAS)
    )
    assert not grouped and not ungrouped
    assert list(cat) == list(SCHEMAS)
    assert [tuple(r) for r in cat["cell"].collect()] == [("c1", "lung"), ("c2", None)]


@pytest.mark.slow
def test_read_pset_catalog_without_pinned_threads(pset_dir):
    """With PySpark's pinned-thread mode off the pool must still work (the
    session form of ``inheritable_thread_target`` returns the session there,
    not a wrapper). Needs its own JVM: the mode is fixed at gateway start."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from pyspark.sql import SparkSession\n"
        "from pharmacodi_spark.io import read_pset_catalog\n"
        "spark = SparkSession.builder.master('local[1]').getOrCreate()\n"
        f"cat = read_pset_catalog(spark, {pset_dir!r}, schemas={SCHEMAS!r})\n"
        "print(list(cat), cat['cell'].count())\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env={**os.environ, "PYSPARK_PIN_THREAD": "false", "PYTHONPATH": root},
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == f"{list(SCHEMAS)} 2"


def test_read_pset_catalog_empty_dir(spark, tmp_path):
    (tmp_path / ".hidden").write_text("")
    assert read_pset_catalog(spark, str(tmp_path)) == {}


def test_load_table_all_shards_skips_same_suffix_tables(spark, tmp_path):
    """``*/*_cell.parquet`` also matches ``{p}_dataset_cell`` and
    ``{p}_mol_cell``; only ``{p}/{p}_cell.parquet`` shards are the cell
    table, or their rows come back with a null name and become one more
    dim row."""
    names = {"P1": ["c1", "c2"], "P2": ["c2", "c3"]}
    for p, cells in names.items():
        shard = tmp_path / p
        spark.createDataFrame([(c, p) for c in cells], ["name", "dataset_id"]).write.parquet(
            str(shard / f"{p}_cell.parquet")
        )
        spark.createDataFrame([(c, p) for c in cells], ["cell_id", "dataset_id"]).write.parquet(
            str(shard / f"{p}_dataset_cell.parquet")
        )
        spark.createDataFrame(
            [(c, 3, "rna", p) for c in cells], ["cell_id", "num_prof", "mDataType", "dataset_id"]
        ).write.parquet(str(shard / f"{p}_mol_cell.parquet"))
    cells = load_table_all_shards(spark, "cell", str(tmp_path))
    assert sorted(cells.columns) == ["dataset_id", "name"]
    dim = combine_dim([cells.select("name")])
    assert sorted((r.id, r.name) for r in dim.collect()) == [(1, "c1"), (2, "c2"), (3, "c3")]
    with pytest.raises(FileNotFoundError):
        load_table_all_shards(spark, "gene", str(tmp_path))
