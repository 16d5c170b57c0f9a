"""Output checks, computed apart from the Spark engine.

Catalog findings are compared with the project's DuckDB oracle
(``oracles.scan_findings_oracle`` over ``oracles.tables_melted_sql``),
re-nested per column the way the findings store nests them. Text-ensemble
predictions are compared with the DuckDB composition of the same
pipeline as an order-free hash (``tools/selfcheck.frame_fingerprint``).
"""

from __future__ import annotations

import glob
import os

import duckdb

from catalog_pii_scanner_spark import oracles
from catalog_pii_scanner_spark.operators.ensemble import (
    IDENTITY_CALIBRATION, EnsembleWeights, ensemble_oracle_sql)
from catalog_pii_scanner_spark.operators.ner import (
    ner_context_signals_oracle_sql)
from catalog_pii_scanner_spark.operators.redaction import (
    redaction_oracle_exprs)
from tools.selfcheck import frame_fingerprint

import gen

#: column_ref -> (sorted types, confidence, hit_rate)
Findings = dict[str, tuple[tuple[str, ...], float, float]]


def _finding(types, confidence, hit_rate) -> tuple:
    return (tuple(sorted(types)), round(float(confidence), 9),
            round(float(hit_rate), 9))


def catalog_oracle(cat_dir: str) -> Findings:
    """Per-column findings of the DuckDB oracle over a catalog snapshot."""
    tables = tuple(gen.SCHEMAS)
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(cat_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        rows = con.execute(oracles.scan_findings_oracle(
            oracles.tables_melted_sql(tables), class_col="vclass")).fetchall()
    finally:
        con.close()
    per_col: dict[str, list] = {}
    for ref, pii_type, _n, _hit, conf, rate in rows:
        per_col.setdefault(ref, []).append((pii_type, conf, rate))
    return {ref: _finding([t for t, _, _ in v], max(c for _, c, _ in v),
                          max(r for _, _, r in v))
            for ref, v in per_col.items()}


def printed_findings(records: list[dict]) -> Findings:
    """The ``scan`` verb's printed JSON records, nested like the oracle."""
    return {r["column_ref"]: _finding(r["types"], r["confidence"],
                                      r["hit_rate"]) for r in records}


def store_findings(store_dir: str) -> Findings:
    """The MERGE store's rows, read with DuckDB (not through Spark)."""
    files = glob.glob(os.path.join(store_dir, "key_bucket=*", "*.parquet"))
    if not files:
        return {}
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT column_ref, types, confidence, hit_rate "
            "FROM read_parquet(?)", [files]).fetchall()
    finally:
        con.close()
    out: Findings = {}
    for ref, types, conf, rate in rows:
        if ref in out:
            raise AssertionError(f"store holds {ref} twice")
        out[ref] = _finding(types, conf, rate)
    return out


def diff_refs(got: Findings, want: Findings) -> set[str]:
    """Column refs whose finding differs, is missing or is extra."""
    return {r for r in set(got) | set(want) if got.get(r) != want.get(r)}


def seeded_problems(found: Findings) -> list[str]:
    """Seeded columns missing a specified type, and a CREDIT_CARD finding
    in the column seeded only with Luhn-invalid cards."""
    out = [f"{ref} lacks {sorted(want - set(found.get(ref, ((),))[0]))}"
           for ref, want in gen.SEEDED.items()
           if not want <= set(found.get(ref, ((),))[0])]
    if "CREDIT_CARD" in found.get(gen.INVALID_CARDS, ((),))[0]:
        out.append(f"{gen.INVALID_CARDS} reports CREDIT_CARD")
    return out


def text_oracle_sql(weights: EnsembleWeights, threshold: float) -> str:
    """The ``scan-text --ensemble`` composition over relation ``corpus``
    (column_ref, value), as DuckDB SQL."""
    e = redaction_oracle_exprs("duckdb")
    nersig = ner_context_signals_oracle_sql(
        "ctxh", keep=("ckey",), wrap_cte="nersig").strip()
    return ("WITH " + oracles.scored_candidates_cte("corpus").lstrip()
            + f""",
cand_rel AS (
  SELECT DISTINCT column_ref, value, pii_type, match_text,
         rule_confidence, validated, {e['context']} AS context
  FROM scored
),
ctxh AS (
  SELECT context, md5(context) AS ckey
  FROM (SELECT DISTINCT context FROM cand_rel)
),
{nersig},
cand2 AS (SELECT c.*, md5(c.context) AS ckey FROM cand_rel c)
""" + ensemble_oracle_sql("cand2", weights=weights,
                          calibration=IDENTITY_CALIBRATION,
                          decision_threshold=threshold, ner_rel="nersig",
                          embed_hash_col="ckey"))


def text_oracle_hash(texts: list[str], column_ref: str,
                     weights: EnsembleWeights, threshold: float
                     ) -> tuple[int, str, str]:
    import pyarrow as pa
    con = duckdb.connect()
    try:
        con.register("corpus", pa.table({
            "column_ref": [column_ref] * len(texts), "value": texts}))
        res = con.execute(text_oracle_sql(weights, threshold))
        cols = [d[0] for d in res.description]
        return frame_fingerprint(cols, res.fetchall())
    finally:
        con.close()


def parquet_hash(path: str) -> tuple[int, str, str]:
    """Order-free hash of a Parquet directory written by Spark."""
    con = duckdb.connect()
    try:
        res = con.execute(
            "SELECT * FROM read_parquet(?)",
            [os.path.join(path, "*.parquet")])
        cols = [d[0] for d in res.description]
        return frame_fingerprint(cols, res.fetchall())
    finally:
        con.close()


def gold_misses(texts: list[str], golds: list[list[gen.Span]],
                candidates: set[tuple[str, str, str]]) -> list[str]:
    """Gold spans of rule-caught types absent from the candidates, a set
    of (value, pii_type, match_text)."""
    return [f"{s.pii_type} {s.text!r}" for text, spans in zip(texts, golds)
            for s in spans
            if s.rule_caught and (text, s.pii_type, s.text) not in candidates]
