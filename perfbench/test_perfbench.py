"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q          # from the repository root

The check tests feed each workload's check an output derived from the
DuckDB oracle (which must pass) and the same output corrupted (which must
fail). The smoke test runs all three workloads end to end on tiny inputs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

E2E = {"setup_s", "cold_pass_s", "values_per_s", "pass_cpu_s",
       "peak_rss_mb"}


def _records(found: checks.Findings) -> list[dict]:
    return [{"column_ref": r, "types": list(t), "confidence": c,
             "hit_rate": h} for r, (t, c, h) in found.items()]


def _write_store(store: str, found: checks.Findings) -> None:
    os.makedirs(os.path.join(store, "key_bucket=0"), exist_ok=True)
    rows = _records(found)
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(store, "key_bucket=0", "part-0.parquet"))


def _stdout(found: checks.Findings, applied: int) -> tuple:
    return (json.dumps(_records(found)),
            [{"writeback": {"applied": applied, "skipped": 0}}])


@pytest.fixture(scope="module")
def full_scan(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("full"))
    wl = run.FullScan(run.Ctx(5, tmp, None))
    wl.generate(os.path.join(tmp, "in"))
    wl.prepare_checks()
    return wl


def test_full_scan_check_passes_on_oracle_output(full_scan):
    want = full_scan.want
    _write_store(full_scan.store, want)
    verdict = full_scan.check(0, _stdout(want, len(want)))
    assert verdict.problem is None and not verdict.fault


def test_full_scan_check_fails_on_dropped_finding(full_scan):
    want = full_scan.want
    _write_store(full_scan.store, want)
    dropped = dict(want)
    del dropped["spark://documents/text"]
    verdict = full_scan.check(0, _stdout(dropped, len(dropped)))
    assert "printed findings differ" in verdict.problem
    assert "documents/text lacks" in verdict.problem


def test_invalid_card_column_has_no_credit_card(full_scan):
    types = full_scan.want[gen.INVALID_CARDS][0]
    assert "CREDIT_CARD" not in types
    forged = dict(full_scan.want)
    t, c, h = forged[gen.INVALID_CARDS]
    forged[gen.INVALID_CARDS] = (tuple(sorted(t + ("CREDIT_CARD",))), c, h)
    assert checks.seeded_problems(forged) == [
        f"{gen.INVALID_CARDS} reports CREDIT_CARD"]


@pytest.fixture(scope="module")
def rescan(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("rescan"))
    wl = run.IncrementalRescan(run.Ctx(6, tmp, None))
    wl.generate(os.path.join(tmp, "in"))
    wl.store = os.path.join(tmp, "store")
    wl.want = {s: checks.catalog_oracle(d) for s, d in wl.cats.items()}
    return wl


def _rescan_out(wl, snap: str, rescanned: int = len(gen.CHANGED)) -> tuple:
    printed = {r: f for r, f in wl.want[snap].items() if r in gen.CHANGED}
    out = _stdout(printed, len(printed))
    out[1].append({"incremental": True,
                   "skipped_columns": gen.N_COLUMNS - rescanned})
    return out


def test_rescan_snapshots_differ_in_the_changed_columns(rescan):
    a, b = rescan.want["A"], rescan.want["B"]
    assert gen.RETRACTED in a and gen.RETRACTED not in b
    assert checks.diff_refs(a, b) <= set(gen.CHANGED)


def test_rescan_stale_finding_counts_as_the_known_fault(rescan):
    # what merge_findings leaves: B's findings plus A's retracted column
    stale = dict(rescan.want["B"])
    stale[gen.RETRACTED] = rescan.want["A"][gen.RETRACTED]
    _write_store(rescan.store, stale)
    verdict = rescan.check(0, _rescan_out(rescan, "B"))
    assert verdict.problem is None and verdict.fault
    _write_store(rescan.store, rescan.want["A"])
    verdict = rescan.check(1, _rescan_out(rescan, "A"))
    assert verdict.problem is None and not verdict.fault


def test_rescan_check_fails_on_other_stale_record(rescan):
    # a stale column whose record is not A's finding is not the known fault
    stale = dict(rescan.want["B"])
    t, c, h = rescan.want["A"][gen.RETRACTED]
    stale[gen.RETRACTED] = (t, round(c / 2, 4), h)
    _write_store(rescan.store, stale)
    verdict = rescan.check(0, _rescan_out(rescan, "B"))
    assert f"store differs on ['{gen.RETRACTED}']" in verdict.problem
    assert not verdict.fault


def test_rescan_check_fails_on_flipped_type(rescan):
    flipped = dict(rescan.want["A"])
    t, c, h = flipped["spark://customer/c_name"]
    flipped["spark://customer/c_name"] = (("EMAIL",), c, h)
    _write_store(rescan.store, flipped)
    verdict = rescan.check(1, _rescan_out(rescan, "A"))
    assert "store differs on ['spark://customer/c_name']" in verdict.problem
    assert not verdict.fault


def test_rescan_check_fails_on_wrong_rescan_set(rescan):
    _write_store(rescan.store, rescan.want["A"])
    out = _rescan_out(rescan, "A", rescanned=len(gen.CHANGED) + 1)
    assert "rescanned 3 columns" in rescan.check(1, out).problem


class _Cands:
    """Stands in for the candidates DataFrame of a text pass."""

    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return self

    def distinct(self):
        return self

    def collect(self):
        return self.rows


@pytest.fixture(scope="module")
def text(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("text"))
    wl = run.TextEnsemble(run.Ctx(7, tmp, None, corpus_values=200))
    wl.generate(os.path.join(tmp, "in"))
    wl.prepare_checks()
    return wl


def _write_predictions(wl, corrupt: bool = False) -> _Cands:
    import duckdb
    con = duckdb.connect()
    con.register("corpus", pa.table({
        "column_ref": [wl.column_ref] * len(wl.texts), "value": wl.texts}))
    table = con.execute(checks.text_oracle_sql(
        wl.weights, wl.threshold)).fetch_arrow_table()
    con.close()
    if corrupt:
        score = table.column("score").to_pylist()
        score[0] = round(score[0] + 0.001, 6)
        table = table.set_column(table.schema.get_field_index("score"),
                                 "score", pa.array(score))
    os.makedirs(wl.out, exist_ok=True)
    pq.write_table(table, os.path.join(wl.out, "part-0.parquet"))
    return _Cands([(t, s.pii_type, s.text) for t, spans in
                   zip(wl.texts, wl.golds) for s in spans])


def test_text_check_passes_on_oracle_predictions(text):
    verdict = text.check(0, _write_predictions(text))
    assert verdict.problem is None


def test_text_check_fails_on_altered_prediction(text):
    verdict = text.check(0, _write_predictions(text, corrupt=True))
    assert "predictions" in verdict.problem


def test_text_check_fails_on_missed_gold_span(text):
    cands = _write_predictions(text)
    cands.rows = [r for r in cands.rows if r[1] != "SSN"]
    assert "gold spans missed" in text.check(0, cands).problem


def test_gold_spans_sit_at_their_offsets():
    texts, golds = gen.text_corpus(3, 50)
    assert len(set(texts)) == 50
    for t, spans in zip(texts, golds):
        for s in spans:
            assert t[s.start:s.end] == s.text


def test_same_seed_same_catalog(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert gen.write_catalog(9, a) == gen.write_catalog(9, b)
    for t in gen.SCHEMAS:
        assert pq.read_table(f"{a}/{t}.parquet").equals(
            pq.read_table(f"{b}/{t}.parquet"))


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run(workload):
    """A whole tiny run: session, set-up, passes, checks, one JSON line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "0", "--corpus-values",
         "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], proc.stderr[-3000:]
    assert set(result["metrics"]) == E2E
    assert all(m["value"] > 0 for m in result["metrics"].values())
    expect_failed = (result["attempted"] // 2
                     if workload == "incremental_rescan" else 0)
    assert result["attempted"] >= 2 and result["failed"] == expect_failed
    assert not [d for d in os.listdir(ROOT) if d.startswith(".perfbench-")]
