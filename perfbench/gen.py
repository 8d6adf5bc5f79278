"""Seeded input generators for the workloads.

Every generator takes a ``random.Random`` built from the run's ``--seed``
and nothing else, so the same seed writes byte-identical files and a
different seed writes different ones (``test_bench.py`` pins both). The
generators also return what they planted (row counts, duplicate ids,
unmatched keys), which is what the output checks compare against.
"""

from __future__ import annotations

import csv
import gzip
import io
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# pset_etl: PSet export directories (FIXTURES.md section A shapes)
# ---------------------------------------------------------------------------

#: (name, slot format, slots stored as Parquet instead, sensitivity
#: column variant, has DSS columns): covers CSV / CSV.gz / Parquet slots,
#: the HS and slope_recomputed variants and the missing-DSS pad path
PSET_LAYOUT = [
    ("PSET_A", "csv", (), "HS", True),
    ("PSET_B", "csv.gz", ("sensitivity$raw.Dose", "sensitivity$raw.Viability"),
     "slope_recomputed", False),
]

N_CELLS = 240  # global cell universe; each PSet draws an overlapping subset
N_TISSUES = 24
N_COMPOUNDS = 90
N_GENES = 400
CELLS_PER_PSET = 150
COMPOUNDS_PER_PSET = 55
GENES_PER_MDT = 250
EXPERIMENTS_PER_PSET = 20000
UNMATCHED_PER_PSET = 25  # experiments pointing at a cell no PSet defines
MAX_DOSES = 5
IC50_OVER_CLAMP = 1e60  # above the combine phase's 1e54 clamp
MDTS = ("rna", "rnaseq")


def _fmt(v) -> str:
    if v is None:
        return "NA"  # the reader's null sentinel (io.load na_value)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _write_slot(path_base: str, fmt: str, columns: list[str], rows: list[tuple]) -> str:
    """Write one slot table as ``path_base`` + extension; returns the path.
    Output bytes depend only on the rows (gzip mtime pinned to 0)."""
    if fmt == "parquet":
        path = path_base + ".parquet"
        cols = {c: [r[i] for r in rows] for i, c in enumerate(columns)}
        pq.write_table(pa.table(cols), path, compression="snappy")
        return path
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(columns)
    for r in rows:
        w.writerow([_fmt(v) for v in r])
    data = buf.getvalue().encode()
    if fmt == "csv.gz":
        path = path_base + ".csv.gz"
        with open(path, "wb") as fh, gzip.GzipFile(
            filename="", mode="wb", fileobj=fh, mtime=0
        ) as gz:
            gz.write(data)
        return path
    path = path_base + ".csv"
    with open(path, "wb") as fh:
        fh.write(data)
    return path


def generate_psets(rng: random.Random, out_dir: str) -> dict:
    """Write one export directory per PSet under ``out_dir`` and return the
    expected combine-phase result sizes plus the planted unmatched keys."""
    os.makedirs(out_dir, exist_ok=True)
    cell_tissue = {
        f"CL{i:04d}": f"tissue_{rng.randrange(N_TISSUES):02d}" for i in range(N_CELLS)
    }
    compounds = [f"cpd_{i:03d}" for i in range(N_COMPOUNDS)]
    genes = [f"ENSG{100000 + i * 7:011d}" for i in range(N_GENES)]

    all_cells: set[str] = set()
    all_compounds: set[str] = set()
    all_genes: set[str] = set()
    exp_rows_total = 0
    dose_rows_total = 0
    unmatched: list[tuple[str, str]] = []  # (dataset, experiment) keys
    inputs: list[str] = []

    for name, default_fmt, parquet_slots, slope_col, has_dss in PSET_LAYOUT:
        pdir = os.path.join(out_dir, name)
        os.makedirs(pdir)

        def write(key: str, columns: list[str], rows: list[tuple]) -> None:
            fmt = "parquet" if key in parquet_slots else default_fmt
            inputs.append(_write_slot(
                os.path.join(pdir, f"{key}@{name}"), fmt, columns, rows
            ))

        cells = sorted(rng.sample(sorted(cell_tissue), CELLS_PER_PSET))
        all_cells.update(cells)
        write("cell", ["cellid", "tissueid"], [(c, cell_tissue[c]) for c in cells])

        cpds = sorted(rng.sample(compounds, COMPOUNDS_PER_PSET))
        all_compounds.update(cpds)
        drug_rows = []
        for j, c in enumerate(cpds):
            known = rng.random() > 0.1  # some rows lack smiles/inchikey
            drug_rows.append((
                f"r{j}", c,
                f"C{len(c)}CC{j}" if known else None,
                f"IK{c.upper()}" if known else None,
                str(1000 + compounds.index(c)),
                rng.random() < 0.3,
            ))
        write("drug", ["rownames", "drugid", "smiles", "inchikey", "cid", "FDA"], drug_rows)

        info, dose, via, prof = [], [], [], []
        n_dss = 3 if has_dss else 0
        for e in range(EXPERIMENTS_PER_PSET):
            eid = f"exp{e:05d}"  # same natural keys in every PSet: the
            # combine phase must key on (dataset, experiment)
            if e < UNMATCHED_PER_PSET:
                cell = f"CLX{rng.randrange(10_000):04d}"  # in no cell table
                unmatched.append((name, eid))
            else:
                cell = rng.choice(cells)
            info.append((eid, cell, rng.choice(cpds)))
            nd = rng.randint(2, MAX_DOSES)  # ragged: trailing nulls
            doses = [round(0.01 * 3 ** k * (1 + rng.random()), 8) for k in range(nd)]
            resp = [round(100 * rng.random(), 8) for _ in range(nd)]
            pad = [None] * (MAX_DOSES - nd)
            dose.append((eid, *doses, *pad))
            via.append((eid, *resp, *pad))
            ic50 = IC50_OVER_CLAMP if rng.random() < 0.02 else rng.uniform(0.01, 50.0)
            prof.append((
                eid, rng.random(), ic50, rng.uniform(0.1, 4.0), rng.random(),
                rng.uniform(0.01, 10.0),
                *[rng.uniform(0, 50) for _ in range(n_dss)],
            ))
            if e >= UNMATCHED_PER_PSET:
                exp_rows_total += 1
                dose_rows_total += nd
        write("sensitivity$info", [".rownames", "cellid", "drugid"], info)
        ks = range(1, MAX_DOSES + 1)
        write("sensitivity$raw.Dose", [".exp_id"] + [f"dose{k}" for k in ks], dose)
        write("sensitivity$raw.Viability", [".exp_id"] + [f"viability{k}" for k in ks], via)
        prof_cols = [".rownames", "aac_recomputed", "ic50_recomputed", slope_col,
                     "einf", "ec50"] + [f"DSS{k + 1}" for k in range(n_dss)]
        write("sensitivity$profiles", prof_cols, prof)

        for mdt in MDTS:
            gs = sorted(rng.sample(genes, GENES_PER_MDT))
            all_genes.update(gs)
            write(f"molecularProfiles${mdt}$rowData", [".features"],
                  [(f"{g}.{rng.randint(1, 20)}",) for g in gs])
            prof_cells = [c for c in cells if rng.random() < 0.8]
            write(f"molecularProfiles${mdt}$colData", ["cellid"],
                  [(c,) for c in prof_cells for _ in range(rng.randint(1, 3))])

    return {
        "psets": [p[0] for p in PSET_LAYOUT],
        "input_bytes": sum(os.path.getsize(p) for p in inputs),
        "rows": {
            "dataset": len(PSET_LAYOUT),
            "tissue": len({cell_tissue[c] for c in all_cells}),
            "cell": len(all_cells),
            "compound": len(all_compounds),
            "gene": len(all_genes),
            "experiment": exp_rows_total,
            "dose_response": dose_rows_total,
            "profile": exp_rows_total,  # one profile row per experiment
        },
        "unmatched": unmatched,
    }


# ---------------------------------------------------------------------------
# documents: the registry's `documents` table schema
# ---------------------------------------------------------------------------

LANGS = ["en"] * 6 + ["zh", "zh", "es", "es", "fr", "fr", "de", "de"]
N_SOURCES = 20

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def _doc_row(doc_id: int, text: str, rng: random.Random) -> dict:
    return {
        "doc_id": doc_id, "text": text, "lang": rng.choice(LANGS),
        "source": f"src{doc_id % N_SOURCES}", "n_chars": len(text),
    }


def write_docs(rows: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=DOC_SCHEMA), path)


# ---------------------------------------------------------------------------
# corpus_curation: a sequence of document batches with planted duplicates
# ---------------------------------------------------------------------------

#: a vocabulary large enough that unrelated documents share no 5-word
#: shingles, so only the planted near-duplicates collide
INGEST_VOCAB = [
    a + b + c
    for a in ("ka", "lo", "mi", "nu", "pe", "ri", "so", "tu", "va", "ze")
    for b in ("bar", "den", "fil", "gor", "hun", "jas", "kel", "mor")
    for c in ("", "s", "ed", "ing")
]


def generate_ingest_batches(
    rng: random.Random, n_batches: int, batch_size: int
) -> tuple[list[list[dict]], dict]:
    """``n_batches`` batches of ``batch_size`` documents. Each batch after
    the first plants exact copies and one-word-edited near copies of
    documents from earlier batches, and every batch plants both kinds
    within itself; copies always carry a higher id than their original,
    so the min-id keeper drops the copy. Returns the batches and the
    planted exact-duplicate ids."""
    batches: list[list[dict]] = []
    originals: list[dict] = []  # fresh documents of earlier batches
    exact_dups: list[int] = []
    next_id = 0
    n_exact = batch_size // 20
    n_near = batch_size // 20
    for _ in range(n_batches):
        fresh = batch_size - 2 * (n_exact + n_near)
        rows = []
        for _ in range(fresh):
            words = [rng.choice(INGEST_VOCAB) for _ in range(rng.randint(40, 120))]
            rows.append(_doc_row(next_id, " ".join(words), rng))
            next_id += 1
        for src_pool in (rows[:fresh], originals or rows[:fresh]):
            for _ in range(n_exact):
                orig = rng.choice(src_pool)
                rows.append(_doc_row(next_id, orig["text"], rng))
                exact_dups.append(next_id)
                next_id += 1
            for _ in range(n_near):
                words = rng.choice(src_pool)["text"].split()
                words[rng.randrange(len(words))] = rng.choice(INGEST_VOCAB)
                rows.append(_doc_row(next_id, " ".join(words), rng))
                next_id += 1
        originals += rows[:fresh]
        batches.append(rows)
    return batches, {"exact_dups": exact_dups, "offered": next_id}
