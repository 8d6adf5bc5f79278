"""Combine phase (SURVEY §3 E2): consolidate per-PSet tables into the final
normalized schema — the Spark re-expression of combine_all_pset_tables
(reference combine_pset_tables.py:27-48).

Flow: union per-PSet dims → dedupe → sort → dense surrogate ids (W1) →
FK-remap every dependent table from natural keys to ids via broadcast joins
(J3/J4) → experiment re-keyed on composite (dataset_id, experiment_id) →
dose_response/profile remapped against it, IC50 clamped (:173).

Scale design: dims are ≤1e5 rows (row_number global window is fine); fact
tables (dose_response at 1e8+) only ever flow through broadcast-hash joins,
so the remaps themselves add no fact-side shuffle. The fact LOAD does
shuffle: ``io.load_table_all_shards``' default full-row ``dropDuplicates``
is a hash aggregate over every fact row it reads (pass ``dedup=False`` or
``key_columns`` where the shards are known distinct). Unmatched-key audits
are returned as DataFrames, not logged-and-swallowed (SURVEY §5 invariants,
§7.3 item 7). The combined dims and experiment are pinned once each
(``combine_dim``, ``combine_experiment``), so every consumer reads the
same materialized rows and ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pharmacodi_spark.barrier import stage_barrier
from pharmacodi_spark.operators.joins import clamp
from pharmacodi_spark.operators.keys import remap_fk_cascade, surrogate_key
from pharmacodi_spark.operators.sets import union_all

IC50_CLAMP = 1e54  # combine_pset_tables.py:173


def combine_dim(per_pset: list[DataFrame], name_col: str = "name") -> DataFrame:
    """combine_primary_tables per-dim step (combine_pset_tables.py:51-89):
    union-all shards, dedupe, sort nulls-last (:66-67), assign id=1..n
    (:345-348).

    The result is pinned eagerly: the combine phase reads every dim at
    least twice — its own table, plus the FK remap of the experiment and
    of the other dependents (combine_pset_tables.py:147-178) — and each
    unpinned read would re-run the union, dedupe and window. A lazy pin
    would save the standalone job only for single-consumer callers, and
    under AQE its shuffle stages run at pin time anyway."""
    unioned = union_all(per_pset).dropDuplicates([name_col])
    return stage_barrier(surrogate_key(unioned, order_by=[name_col]), name="combine_dim")


def keyed(dim: DataFrame, fk: str, name_col: str = "name") -> DataFrame:
    """rename_and_key (combine_pset_tables.py:275-292): project (id, fk)."""
    return dim.select("id", F.col(name_col).alias(fk))


def combine_secondary(
    table: DataFrame, fk_dims: dict[str, DataFrame], sort_and_id: bool = True
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """load_join_write (combine_pset_tables.py:183-210): FK-remap cascade
    over the declared FKs, sort by the new FK columns, assign id."""
    remapped, audits = remap_fk_cascade(table, fk_dims, on_miss="drop")
    if sort_and_id:
        fk_cols = [f"{fk}_id" for fk in fk_dims]
        remapped = surrogate_key(remapped, order_by=fk_cols)
    return remapped, audits


def combine_experiment(
    experiment: DataFrame,
    cell_dim: DataFrame,
    compound_dim: DataFrame,
    tissue_dim: DataFrame,
    dataset_dim: DataFrame,
    dense_global: bool = False,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """combine_experiment_tables part 1 (combine_pset_tables.py:147-168):
    remap experiment on its 4 FKs, then key it on the composite
    (dataset_id, experiment_id) for the fact remaps.

    ``dense_global=True`` switches the surrogate assignment to the
    fact-scale strategy (range-repartition + per-partition offsets, no
    global window — operators/keys.py) — use it when the experiment table
    itself is fact-sized (10⁷+ rows across hundreds of PSets); the ids are
    identical either way.

    The remapped experiment is pinned eagerly: it is read at least three
    times — its own table, then the dose_response and profile remaps
    (combine_pset_tables.py:147-178) — and each unpinned read would re-run
    the four FK joins and the surrogate window."""
    # keep the natural dataset name alongside the surrogate: downstream fact
    # tables (dose_response, profile) still carry natural keys and join on
    # the composite (dataset natural, experiment natural) —
    # combine_pset_tables.py:164-175
    experiment = experiment.withColumn("dataset_name", F.col("dataset_id"))
    remapped, audits = remap_fk_cascade(
        experiment,
        {
            "cell_id": keyed_or_self(cell_dim, "cell_id"),
            "compound_id": keyed_or_self(compound_dim, "compound_id"),
            "tissue_id": keyed_or_self(tissue_dim, "tissue_id"),
            "dataset_id": keyed_or_self(dataset_dim, "dataset_id"),
        },
        on_miss="drop",
    )
    remapped = surrogate_key(
        remapped, order_by=["dataset_id_id", "experiment_id"], dense_global=dense_global
    ).withColumnsRenamed(
        {f"{c}_id": c for c in ["cell_id", "compound_id", "tissue_id", "dataset_id"]}
    )
    return stage_barrier(remapped, name="combine_experiment"), audits


def keyed_or_self(dim: DataFrame, fk: str) -> DataFrame:
    """Accept either a raw dim (id, name) or a pre-keyed (id, fk) frame."""
    if fk in dim.columns:
        return dim
    return keyed(dim, fk)


def remap_fact_to_experiment(
    fact: DataFrame,
    experiment: DataFrame,
    clamp_ic50: bool = False,
    carry: list[str] | None = None,
) -> DataFrame:
    """combine_experiment_tables part 2 (combine_pset_tables.py:170-178):
    rewrite (dataset natural key, experiment natural key) on the fact to the
    experiment surrogate id via a composite-key broadcast join; clamp IC50
    for the profile table (:173); drop the natural keys.

    The experiment map is projected to 3 columns (+ ``carry``) before
    broadcast — at 1e8 fact rows this is the only operator touching every
    row and it is shuffle-free. ``carry`` names extra experiment columns
    (e.g. the remapped dim ids) to attach to the fact in the SAME broadcast
    join — denormalizing here costs a few broadcast bytes per row and saves
    a second pass over the fact later."""
    exp_map = experiment.select(
        F.col("id").alias("experiment_fk"),
        F.col("experiment_id"),
        F.col("dataset_name").alias("__ds_id"),
        *(carry or []),
    )
    if clamp_ic50:
        fact = clamp(fact, "IC50", upper=IC50_CLAMP)
    # drops are by column REFERENCE, not name: a carried experiment column
    # may legitimately be named dataset_id, and a name-based drop would
    # silently remove it along with the fact's natural key
    out = (
        fact.join(
            F.broadcast(exp_map),
            on=(fact.experiment_id == exp_map.experiment_id)
            & (fact.dataset_id == exp_map.__ds_id),
            how="inner",
        )
        .drop(exp_map.experiment_id)
        .drop(fact.experiment_id)
        .drop(fact.dataset_id)
        .drop("__ds_id")
        .withColumnRenamed("experiment_fk", "experiment_id")
    )
    return out
