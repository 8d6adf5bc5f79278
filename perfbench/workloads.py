"""The closed-loop workloads: one client, one ``local[nproc]`` session,
whole iterations timed back to back.

A workload object owns its work directory and exposes

- ``setup(rng)``: generate the seeded inputs and initial state (untimed,
  counted in setup_s);
- ``prepare(i)``: copy inputs to fresh per-iteration paths, reset state;
- ``iteration(i)``: the timed region; returns the per-batch wall times;
- ``check(i)``: verify iteration ``i``'s outputs, returning a list of
  problems (empty when correct);
- ``deferred_checks()``: checks run once after the loop, by iteration;
- ``stored_bytes(i)``: bytes on disk of iteration ``i``'s final outputs;
- ``cleanup(i)``: drop iteration ``i``'s files and catalog entries.

Outputs are checked with DuckDB reading the files the program wrote, not
with Spark, so a check neither shares code with the program nor adds
Spark jobs to the run. Program functions are always called through their
module attribute (``pio.save(...)``, never a bare imported name) so that
the traced run's rebinding in ``spans.py`` sees every call.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
from pyspark.sql import functions as F

import gen
from pharmacodi_spark import io as pio
from pharmacodi_spark.pipelines import combine as pcombine
from pharmacodi_spark.pipelines import ingest as pingest
from pharmacodi_spark.pipelines import pset as ppset


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def parquet_glob(path: str) -> str:
    """DuckDB source for every Parquet file Spark wrote under ``path``
    (partition directories become columns)."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def query(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str):
        self.spark = spark
        self.work = work_dir
        self.input_bytes = 0
        os.makedirs(work_dir, exist_ok=True)

    def it_dir(self, i: int) -> str:
        return os.path.join(self.work, f"it{i:03d}")

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.it_dir(i), ignore_errors=True)

    def deferred_checks(self) -> dict[int, list[str]]:
        return {}


# ---------------------------------------------------------------------------
# pset_etl
# ---------------------------------------------------------------------------

#: the per-PSet tables the combine phase reads, which are also the
#: combine-phase tables written through io.save_canonical (see README for
#: the per-PSet tables left unwritten)
FINAL_TABLES = [
    "dataset", "tissue", "cell", "compound", "gene",
    "experiment", "dose_response", "profile",
]
#: dims and the experiment table carry dense surrogate ids 1..n
ID_TABLES = ["dataset", "tissue", "cell", "compound", "gene", "experiment"]


class PsetEtl(Workload):
    """PSet export directories → per-PSet tables → combine → canonical
    tables (the paper's product). One batch = one PSet's per-PSet phase."""

    name = "pset_etl"

    def setup(self, rng) -> None:
        self.src = os.path.join(self.work, "psets")
        self.expect = gen.generate_psets(rng, self.src)
        self.input_bytes = self.expect["input_bytes"]
        self.handles: dict[int, dict[str, str]] = {}

    def prepare(self, i: int) -> None:
        shutil.copytree(self.src, os.path.join(self.it_dir(i), "psets"))

    def iteration(self, i: int) -> list[float]:
        spark = self.spark
        root = self.it_dir(i)
        stage = os.path.join(root, "per_pset")
        batches = []
        for name in self.expect["psets"]:
            t0 = time.perf_counter()
            catalog = pio.read_pset_catalog(spark, os.path.join(root, "psets", name))
            tables = ppset.build_all_pset_tables(spark, catalog, name)
            for table in FINAL_TABLES:
                df = tables[table]
                if table == "dose_response":
                    # the per-PSet dose_response carries no dataset_id, which
                    # remap_fact_to_experiment keys on (see README)
                    df = df.withColumn("dataset_id", F.lit(name))
                pio.save(df, os.path.join(stage, name, f"{name}_{table}.parquet"))
            batches.append(time.perf_counter() - t0)

        def load(table):
            return pio.load_table_all_shards(spark, table, stage)

        dims = {
            "dataset": pcombine.combine_dim([load("dataset")]),
            "tissue": pcombine.combine_dim([load("tissue")]),
            "cell": pcombine.combine_dim([load("cell").select("name")]),
            "compound": pcombine.combine_dim([load("compound").select("name")]),
            "gene": pcombine.combine_dim([load("gene")]),
        }
        exp, _audits = pcombine.combine_experiment(
            load("experiment"),
            pcombine.keyed(dims["cell"], "cell_id"),
            pcombine.keyed(dims["compound"], "compound_id"),
            pcombine.keyed(dims["tissue"], "tissue_id"),
            pcombine.keyed(dims["dataset"], "dataset_id"),
        )
        final = {
            **dims,
            "experiment": exp,
            "dose_response": pcombine.remap_fact_to_experiment(load("dose_response"), exp),
            "profile": pcombine.remap_fact_to_experiment(
                load("profile"), exp, clamp_ic50=True
            ),
        }
        out = os.path.join(root, "out")
        self.handles[i] = {
            t: pio.save_canonical(final[t], t, out) for t in FINAL_TABLES
        }
        return batches

    def check(self, i: int) -> list[str]:
        out = os.path.join(self.it_dir(i), "out")
        rows = self.expect["rows"]
        errors = []
        for t in FINAL_TABLES:
            src = parquet_glob(os.path.join(out, t))
            want = rows[t]
            (n,) = query(f"SELECT count(*) FROM {src}")[0]
            if n != want:
                errors.append(f"{t}: {n} rows, expected {want}")
            if t in ID_TABLES:
                ids = query(f"SELECT min(id), max(id), count(DISTINCT id) FROM {src}")[0]
                if ids != (1, want, want):
                    errors.append(f"{t}: ids (min, max, distinct) {ids}, expected 1..{want}")
            else:  # facts: every row points at a combined experiment
                lo, hi = query(f"SELECT min(experiment_id), max(experiment_id) FROM {src}")[0]
                if lo is None or lo < 1 or hi > rows["experiment"]:
                    errors.append(
                        f"{t}: experiment ids {lo}..{hi} outside 1..{rows['experiment']}"
                    )
            if t == "profile":
                (ic50,) = query(f"SELECT max(IC50) FROM {src}")[0]
                if not ic50 <= pcombine.IC50_CLAMP:
                    errors.append(f"profile: max IC50 {ic50} above the clamp")
        planted = ", ".join(f"('{d}', '{e}')" for d, e in self.expect["unmatched"])
        (leaked,) = query(
            f"SELECT count(*) FROM {parquet_glob(os.path.join(out, 'experiment'))} e "
            f"JOIN (VALUES {planted}) p(d, x) "
            f"ON e.dataset_name = p.d AND e.experiment_id = p.x"
        )[0]
        if leaked:
            errors.append(f"experiment: {leaked} unmatched-cell experiments kept")
        return errors

    def stored_bytes(self, i: int) -> int:
        return dir_bytes(os.path.join(self.it_dir(i), "out"))

    def cleanup(self, i: int) -> None:
        for handle in self.handles.pop(i, {}).values():
            if not os.path.isabs(handle):  # bucketed: a catalog table
                self.spark.sql(f"DROP TABLE IF EXISTS {handle}")
        super().cleanup(i)


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

#: batch 0 builds the initial corpus state during setup; every iteration
#: starts from a copy of that state and ingests the remaining batch(es)
#: through the merge path
INGEST_BATCHES = 2
INGEST_BATCH_SIZE = 1000
#: registry cascades run over the ingested corpus after the last batch
CURATION_QUERIES = ["text_semantic_dedup", "authority_gate", "dsir_select"]


def _norm_rows(rows) -> list[tuple]:
    """Rows (dicts) as tuples of their values in column-name order, floats
    to 9 significant digits, sorted."""
    out = [
        tuple(
            float(f"{v:.9g}") if isinstance(v, float) else v
            for _k, v in sorted(r.items())
        )
        for r in rows
    ]
    return sorted(out, key=repr)


class CorpusCuration(Workload):
    """Document batches ingested in order into on-disk corpus state
    (read-modify-write), then the registry's curation cascades over the
    resulting corpus through a noop sink. One batch = one ingest_batch
    call; the cascades' results are collected after the timed region and
    compared with the registry's DuckDB oracle SQL."""

    name = "corpus_curation"

    def setup(self, rng) -> None:
        from pharmacodi_spark import plans

        self.plans = plans
        batches, self.planted = gen.generate_ingest_batches(
            rng, INGEST_BATCHES, INGEST_BATCH_SIZE
        )
        self.src = os.path.join(self.work, "batches")
        os.makedirs(self.src)
        for k, rows in enumerate(batches):
            gen.write_docs(rows, os.path.join(self.src, f"b{k}.parquet"))
        self.input_bytes = dir_bytes(self.src)
        self.snapshot = os.path.join(self.work, "state0")
        first = self.spark.read.parquet(os.path.join(self.src, "b0.parquet"))
        pingest.ingest_batch(self.spark, self.snapshot, first)
        self.frames: dict[int, dict] = {}
        self.results: dict[int, dict[str, list]] = {}
        self.corpus_copy = os.path.join(self.work, "corpus_checked")
        self.corpus_digest: tuple | None = None
        self.accepted: list[int] = []

    def prepare(self, i: int) -> None:
        root = self.it_dir(i)
        shutil.copytree(self.src, os.path.join(root, "in"))
        shutil.copytree(self.snapshot, os.path.join(root, "state"))
        # the registry reads `{dir}/documents.parquet`: point it at the corpus
        os.makedirs(os.path.join(root, "sf"))
        os.symlink(os.path.join(root, "state", "corpus"),
                   os.path.join(root, "sf", "documents.parquet"))

    def iteration(self, i: int) -> list[float]:
        spark = self.spark
        root = self.it_dir(i)
        batches = []
        for k in range(1, INGEST_BATCHES):
            t0 = time.perf_counter()
            new = spark.read.parquet(os.path.join(root, "in", f"b{k}.parquet"))
            pingest.ingest_batch(spark, os.path.join(root, "state"), new)
            batches.append(time.perf_counter() - t0)
        fns = self.plans.spark_queries()
        frames = {}
        for q in CURATION_QUERIES:
            df = fns[q](spark, os.path.join(root, "sf"))
            df.write.format("noop").mode("overwrite").save()
            frames[q] = df
        self.frames[i] = frames
        return batches

    def check(self, i: int) -> list[str]:
        corpus = os.path.join(self.it_dir(i), "state", "corpus")
        src = parquet_glob(corpus)
        n, nh, digest = query(
            f"SELECT count(*), count(DISTINCT md5(text)), "
            f"sum(hash(doc_id, md5(text))) FROM {src}"
        )[0]
        planted = ", ".join(str(d) for d in self.planted["exact_dups"])
        (kept,) = query(f"SELECT count(*) FROM {src} WHERE doc_id IN ({planted})")[0]
        errors = []
        if n != nh:
            errors.append(f"corpus: {n} rows but {nh} distinct md5(text)")
        if kept:
            errors.append(f"corpus: {kept} planted exact duplicates kept")
        if self.corpus_digest is None:
            self.corpus_digest = (n, digest)
            shutil.copytree(corpus, self.corpus_copy)  # the oracle's input
        elif (n, digest) != self.corpus_digest:
            errors.append(
                f"corpus: {n} rows differ from the first iteration's {self.corpus_digest[0]}"
            )
        self.accepted.append(n)
        # only the final action re-runs: the cascades' pins are materialized
        self.results[i] = {
            q: _norm_rows(r.asDict() for r in df.collect())
            for q, df in self.frames.pop(i).items()
        }
        return errors

    def deferred_checks(self) -> dict[int, list[str]]:
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM {parquet_glob(self.corpus_copy)}"
            )
            sql = self.plans.oracle_queries()
            oracle = {}
            for q in CURATION_QUERIES:
                cur = con.execute(sql[q])
                cols = [c[0] for c in cur.description]
                oracle[q] = _norm_rows(dict(zip(cols, r)) for r in cur.fetchall())
        finally:
            con.close()
        return {
            i: [
                f"{q}: result differs from the oracle ({len(got[q])} vs {len(oracle[q])} rows)"
                for q in CURATION_QUERIES
                if got[q] != oracle[q]
            ]
            for i, got in self.results.items()
        }

    def stored_bytes(self, i: int) -> int:
        return dir_bytes(os.path.join(self.it_dir(i), "state"))


WORKLOADS = {w.name: w for w in (PsetEtl, CorpusCuration)}
