"""Self-tests for the benchmark's own code.

    python3 -m pytest perfbench/test_bench.py -q

- the generators are deterministic in the seed and differ across seeds;
- the event-log parser reads a small recorded log correctly;
- the output checks reject deliberately corrupted outputs.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import gen  # noqa: E402
import spans  # noqa: E402

# the pset reader's own advice to declare schemas; the benchmark infers on purpose
pytestmark = pytest.mark.filterwarnings(r"ignore:io\.load")


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _psets(tmp_path, seed: int, tag: str) -> str:
    out = tmp_path / tag
    gen.generate_psets(random.Random(seed), str(out))
    return _tree_digest(str(out))


def _batches_digest(tmp_path, seed: int, tag: str) -> str:
    batches, planted = gen.generate_ingest_batches(random.Random(seed), 2, 100)
    h = hashlib.sha256(repr(planted).encode())
    for k, rows in enumerate(batches):
        p = tmp_path / f"{tag}{k}.parquet"
        gen.write_docs(rows, str(p))
        h.update(p.read_bytes())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    assert _psets(tmp_path, 7, "a") == _psets(tmp_path, 7, "b")
    assert _psets(tmp_path, 7, "c") != _psets(tmp_path, 8, "d")
    assert _batches_digest(tmp_path, 7, "e") == _batches_digest(tmp_path, 7, "f")
    assert _batches_digest(tmp_path, 7, "g") != _batches_digest(tmp_path, 8, "h")


def test_ingest_batches_plant_what_they_report():
    batches, planted = gen.generate_ingest_batches(random.Random(3), 3, 100)
    rows = [r for b in batches for r in b]
    assert planted["offered"] == len(rows) == 300
    assert len({r["doc_id"] for r in rows}) == 300
    by_id = {r["doc_id"]: r["text"] for r in rows}
    for d in planted["exact_dups"]:  # every copy has an older original
        assert any(i < d and t == by_id[d] for i, t in by_id.items())


# ---------------------------------------------------------------------------
# event-log parser
# ---------------------------------------------------------------------------

EVENT_LOG = os.path.join(HERE, "testdata", "eventlog_small.json")


def test_parse_recorded_event_log():
    """The log (see testdata/make_eventlog.py) records three jobs: a count
    under span ``pb0``, a shuffle under ``pb1`` (a two-task map stage and
    a one-task result stage), and a sum submitted outside any span."""
    jobs = spans.parse_event_log(EVENT_LOG)
    assert [j["group"] for j in jobs] == ["pb0", "pb1", None]
    assert all(j["end"] >= j["submit"] > 0 for j in jobs)
    assert [j["tasks"] for j in jobs] == [2, 3, 2]
    # sums of the tasks' own fields in the fixture
    assert [j["shuffle_bytes"] for j in jobs] == [0, 158, 0]
    assert [j["executor_run_s"] for j in jobs] == pytest.approx([2.647, 1.150, 0.328])
    assert [j["gc_s"] for j in jobs] == pytest.approx([0.008, 0.017, 0.016])
    assert all(j["output_bytes"] == 0 for j in jobs)
    assert jobs[0]["end"] - jobs[0]["submit"] == pytest.approx(1.634)


def test_busy_seconds_and_self_seconds():
    assert spans.busy_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.busy_seconds([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    tree = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "b", "start": 2.0, "end": 3.0},
    ]
    assert spans.self_seconds(tree) == {"a": 7.0, "b": 2.0, "c": 1.0}


def test_span_recorder_rebinds_every_importer():
    import types

    owner = types.ModuleType("pharmacodi_spark._pb_owner")
    user = types.ModuleType("pharmacodi_spark._pb_user")
    owner.f = lambda x: x + 1
    user.f = owner.f  # as after ``from owner import f``
    sys.modules[owner.__name__] = owner
    sys.modules[user.__name__] = user
    try:
        rec = spans.SpanRecorder()
        rec.wrap(owner, "f", "owner.f")
        assert owner.f is user.f and owner.f(1) == 2 and user.f(2) == 3
        assert [s["name"] for s in rec.spans] == ["owner.f", "owner.f"]
    finally:
        del sys.modules[owner.__name__], sys.modules[user.__name__]


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _corpus_workload(tmp_path, rows):
    """A corpus_curation workload whose iteration 0 left ``rows`` as its
    corpus, with no cascade results pending."""
    import workloads
    from pharmacodi_spark import plans

    wl = workloads.CorpusCuration(None, str(tmp_path / "work"))
    wl.plans = plans
    wl.planted = {"exact_dups": [3], "offered": 4}
    wl.corpus_copy = str(tmp_path / "corpus_checked")
    wl.corpus_digest, wl.accepted, wl.frames, wl.results = None, [], {}, {}
    _write_corpus(wl, 0, rows)
    return wl


def _write_corpus(wl, i: int, rows) -> None:
    corpus = os.path.join(wl.it_dir(i), "state", "corpus")
    shutil.rmtree(corpus, ignore_errors=True)
    os.makedirs(corpus)
    docs = [gen._doc_row(d, t, random.Random(d)) for d, t in rows]
    gen.write_docs(docs, os.path.join(corpus, "part-0.parquet"))
    wl.frames[i] = {}


def test_corpus_check_rejects_a_corrupted_corpus(tmp_path):
    ok = [(1, "alpha beta"), (2, "gamma delta")]
    wl = _corpus_workload(tmp_path, ok)
    assert wl.check(0) == []
    # a repeated text, and a planted exact duplicate that survived
    _write_corpus(wl, 1, ok + [(3, "alpha beta")])
    errors = wl.check(1)
    assert any("distinct md5" in e for e in errors)
    assert any("planted exact duplicates kept" in e for e in errors)
    assert any("differ from the first iteration" in e for e in errors)


def test_cascade_check_rejects_a_corrupted_result(tmp_path):
    import workloads

    batches, _ = gen.generate_ingest_batches(random.Random(5), 1, 120)
    wl = _corpus_workload(tmp_path, [(r["doc_id"], r["text"]) for r in batches[0]])
    wl.check(0)  # keeps the corpus the oracle reads; its own verdict is not under test
    oracle = _oracle_rows(wl)
    bad = {q: list(rows) for q, rows in oracle.items()}
    bad["authority_gate"] = bad["authority_gate"][1:]  # one row lost
    wl.results = {0: oracle, 1: bad}
    checks = wl.deferred_checks()
    assert checks[0] == []
    assert len(checks[1]) == 1 and checks[1][0].startswith("authority_gate")
    assert set(oracle) == set(workloads.CURATION_QUERIES)


def _oracle_rows(wl) -> dict:
    """The oracle's rows, through the workload's own normalisation."""
    import workloads

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            + workloads.parquet_glob(wl.corpus_copy)
        )
        out = {}
        for q in workloads.CURATION_QUERIES:
            cur = con.execute(wl.plans.oracle_queries()[q])
            cols = [c[0] for c in cur.description]
            out[q] = workloads._norm_rows(dict(zip(cols, r)) for r in cur.fetchall())
    finally:
        con.close()
    return out


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    d = str(tmp_path_factory.mktemp("spark"))
    run.configure_env(d)
    from pharmacodi_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest", extra_conf=run.spark_conf(d, None))
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_pset_check_rejects_corrupted_outputs(spark, tmp_path, monkeypatch):
    import workloads

    monkeypatch.setattr(gen, "EXPERIMENTS_PER_PSET", 60)
    monkeypatch.setattr(gen, "UNMATCHED_PER_PSET", 5)
    wl = workloads.PsetEtl(spark, str(tmp_path / "work"))
    wl.setup(random.Random(11))
    wl.prepare(0)
    wl.iteration(0)
    assert wl.check(0) == []

    # lose the rows of experiment 2 and push experiment 1's IC50 past the clamp
    prof = os.path.join(wl.it_dir(0), "out", "profile")
    bad = duckdb.sql(
        "SELECT * REPLACE (CASE WHEN experiment_id = 1 THEN 1e60 ELSE IC50 END AS IC50) "
        f"FROM {workloads.parquet_glob(prof)} WHERE experiment_id <> 2"
    ).arrow()
    shutil.rmtree(prof)
    os.makedirs(prof)
    pq.write_table(bad, os.path.join(prof, "part-0.parquet"))
    errors = wl.check(0)
    assert any(e.startswith("profile:") and "rows, expected" in e for e in errors)
    assert any("above the clamp" in e for e in errors)
    wl.cleanup(0)
