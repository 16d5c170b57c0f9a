"""Seeded inputs for the benchmark workloads.

Everything here derives from one integer seed through
``numpy.random.default_rng``; the same seed always writes the same files.
Row counts and null counts are fixed, not drawn, so the number of
non-null catalog cells is the same for every seed.

- :func:`write_catalog` writes the nine catalog tables the ``scan`` verb
  melts (48 columns, the column/type map of ``sources.melt``), with PII
  seeded into the text columns listed in :data:`SEEDED`.
- Snapshot ``B`` of the rescan workload differs from snapshot ``A`` in the
  two columns of :data:`CHANGED`: every PII value leaves
  ``events.props``, and a different set of customers carries a person
  name in ``customer.c_name``.
- :func:`text_corpus` builds free text from the five F1 templates of
  FIXTURES.md, with gold spans, mixed with non-PII filler sentences.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from catalog_pii_scanner_spark.sources.melt import TESTDATA_SCHEMAS

#: table -> [(column, type)] the ``scan`` verb melts (48 columns).
SCHEMAS = TESTDATA_SCHEMAS

N_COLUMNS = sum(len(c) for c in SCHEMAS.values())

#: seeded column -> the PII types the rules are specified to catch there.
SEEDED: dict[str, frozenset[str]] = {
    "spark://documents/text": frozenset(
        {"EMAIL", "PHONE_NUMBER", "CREDIT_CARD", "SSN", "IP_ADDRESS",
         "DATE"}),
    "spark://events/props": frozenset({"EMAIL", "IP_ADDRESS"}),
    "spark://customer/c_name": frozenset({"PERSON"}),
}
#: the column seeded with Luhn-invalid card numbers only.
INVALID_CARDS = "spark://events/event_type"
#: the columns snapshot B changes (48 - skipped_columns must equal these).
CHANGED = ("spark://events/props", "spark://customer/c_name")
#: the column whose every PII value snapshot B removes.
RETRACTED = "spark://events/props"

#: rows per table; region and nation are fixed.
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 200}

ARROW = {"int": pa.int32(), "bigint": pa.int64(), "double": pa.float64(),
         "timestamp": pa.timestamp("us"), "string": pa.string()}

FIRST = ("Alice", "Bruno", "Chen", "Dana", "Elif", "Farah", "Gustav",
         "Hana", "Ivan", "Jamal", "Keiko", "Lena", "Mateo", "Nadia")
LAST = ("Smith", "Okafor", "Novak", "Garcia", "Kim", "Larsen", "Moreau",
        "Patel", "Rossi", "Silva", "Tanaka", "Weber", "Young", "Zhou")
WORDS = ("order", "shipment", "warehouse", "pallet", "invoice", "route",
         "carrier", "batch", "audit", "ledger", "quarter", "region",
         "supply", "stock", "return", "freight", "delay", "review",
         "priority", "contract", "volume", "schedule", "dock", "transfer")
DOMAINS = ("example.com", "mail.test", "corp.example.org", "shop.test")


def _luhn_digit(partial: str) -> int:
    total = 0
    for i, ch in enumerate(reversed(partial)):
        d = int(ch)
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return (10 - total % 10) % 10


class Fill:
    """Filler values for the F1 templates, drawn from one generator."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def _i(self, lo: int, hi: int) -> int:
        return int(self.rng.integers(lo, hi))

    def name(self) -> str:
        return f"{FIRST[self._i(0, len(FIRST))]} {LAST[self._i(0, len(LAST))]}"

    def email(self) -> str:
        return (f"user{self._i(0, 100000)}@"
                f"{DOMAINS[self._i(0, len(DOMAINS))]}")

    def phone(self) -> str:
        return (f"({self._i(200, 1000)}) {self._i(200, 1000)}-"
                f"{self._i(0, 10000):04d}")

    def card(self, valid: bool = True) -> str:
        partial = ("4" if self._i(0, 2) else "5") + "".join(
            str(self._i(0, 10)) for _ in range(14))
        check = _luhn_digit(partial)
        if not valid:
            check = (check + self._i(1, 10)) % 10
        return partial + str(check)

    def ssn(self) -> str:
        return (f"{self._i(100, 900)}-{self._i(10, 100):02d}-"
                f"{self._i(1000, 10000)}")

    def ip(self) -> str:
        return ".".join(str(self._i(1, 255)) for _ in range(4))

    def date(self) -> str:
        return (f"{self._i(1990, 2025)}-{self._i(1, 13):02d}-"
                f"{self._i(1, 29):02d}")

    def sentence(self) -> str:
        n = self._i(6, 14)
        words = [WORDS[self._i(0, len(WORDS))] for _ in range(n)]
        return " ".join(words).capitalize() + "."


#: F1 templates (FIXTURES.md): text with {slot}s and the slot -> type map.
TEMPLATES = (
    ("Contact {name} via email {email} or phone {phone}.",
     {"name": "PERSON", "email": "EMAIL", "phone": "PHONE_NUMBER"}),
    ("Visa card {cc} expires on {date}.",
     {"cc": "CREDIT_CARD", "date": "DATE"}),
    ("SSN for {name} is {ssn}.", {"name": "PERSON", "ssn": "SSN"}),
    ("Server IP {ip} logged a request from {name} on {date}.",
     {"ip": "IP_ADDRESS", "name": "PERSON", "date": "DATE"}),
    ("Primary contact: {email}. Secondary: {phone}.",
     {"email": "EMAIL", "phone": "PHONE_NUMBER"}),
)


@dataclass(frozen=True)
class Span:
    start: int
    end: int
    pii_type: str
    text: str
    #: False where the specified rule cannot return the span: the PERSON
    #: pattern ``[A-Z][a-z]+ [A-Z][a-z]+`` takes "Contact Alice" first in
    #: template 0, so the gold name there is never a candidate.
    rule_caught: bool = True


def fill_template(fill: Fill, k: int) -> tuple[str, list[Span]]:
    template, slots = TEMPLATES[k]
    makers = {"name": fill.name, "email": fill.email, "phone": fill.phone,
              "cc": fill.card, "ssn": fill.ssn, "ip": fill.ip,
              "date": fill.date}
    text, spans, rest = "", [], template
    while "{" in rest:
        pre, after = rest.split("{", 1)
        slot, rest = after.split("}", 1)
        text += pre
        val = makers[slot]()
        caught = not (k == 0 and slot == "name")
        spans.append(Span(len(text), len(text) + len(val), slots[slot], val,
                          caught))
        text += val
    return text + rest, spans


def _null_mask(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Exactly round(n * share) nulls at seeded positions."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=int(round(n * share)), replace=False)] = True
    return mask


def _with_nulls(values: list, mask: np.ndarray) -> list:
    return [None if m else v for v, m in zip(values, mask)]


def _timestamps(rng: np.random.Generator, n: int, lo: str, hi: str,
                whole_days: bool = False) -> np.ndarray:
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    t = rng.integers(a, b, size=n)
    if whole_days:
        t -= t % 86_400_000_000
    return t.astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float
           ) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0


def _c_names(rng: np.random.Generator, n: int) -> list[str]:
    fill = Fill(rng)
    named = set(rng.choice(n, size=n // 5, replace=False).tolist())
    return [fill.name() if i in named else f"Customer#{i:09d}"
            for i in range(n)]


def _props(rng: np.random.Generator, n: int, with_pii: bool) -> list:
    fill = Fill(rng)
    out = []
    for _ in range(n):
        r = int(rng.integers(0, 10))
        if with_pii and r < 3:
            out.append(f'{{"ip": "{fill.ip()}", "page": "/home"}}')
        elif with_pii and r < 5:
            out.append(f'{{"email": "{fill.email()}"}}')
        else:
            out.append(f'{{"page": "/p/{int(rng.integers(0, 500))}"}}')
    return _with_nulls(out, _null_mask(rng, n, 0.05))


def _documents_text(rng: np.random.Generator, n: int) -> list[str]:
    fill = Fill(rng)
    out = []
    for _ in range(n):
        parts = [fill.sentence() for _ in range(int(rng.integers(1, 4)))]
        for _ in range(int(rng.integers(0, 3))):
            k = int(rng.integers(0, len(TEMPLATES)))
            parts.insert(int(rng.integers(0, len(parts) + 1)),
                         fill_template(fill, k)[0])
        out.append(" ".join(parts))
    return out


def _tables(seed: int) -> dict[str, dict[str, list]]:
    """Column data of every table for snapshot A."""
    rng = np.random.default_rng(seed)
    n = ROWS
    fill = Fill(rng)
    t: dict[str, dict[str, list]] = {}
    t["region"] = {"r_regionkey": list(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": list(range(25)),
                   "n_name": [f"NATION_{i:02d}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]}
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": list(range(nc)),
        "c_name": _c_names(rng, nc),
        "c_nationkey": rng.integers(0, 25, nc).tolist(),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99).tolist(),
        "c_mktsegment": _with_nulls(
            [("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
              "MACHINERY")[i] for i in rng.integers(0, 5, nc)],
            _null_mask(rng, nc, 0.05)),
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": list(range(ns)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).tolist(),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99).tolist(),
    }
    np_ = n["part"]
    t["part"] = {
        "p_partkey": list(range(np_)),
        "p_name": [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), 4))
                   for _ in range(np_)],
        "p_brand": [f"Brand#{i}{j}" for i, j in
                    zip(rng.integers(1, 6, np_), rng.integers(1, 6, np_))],
        "p_type": [f"{a} {b}" for a, b in zip(
            rng.choice(["STANDARD", "SMALL", "LARGE", "PROMO"], np_),
            rng.choice(["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"], np_))],
        "p_size": rng.integers(1, 51, np_).tolist(),
        "p_retailprice": _money(rng, np_, 900.0, 2100.0).tolist(),
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": list(range(no)),
        "o_custkey": rng.integers(0, nc, no).tolist(),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, no, 800.0, 500000.0).tolist(),
        "o_orderdate": _timestamps(rng, no, "1992-01-01", "1998-08-01",
                                   whole_days=True),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            no).tolist(),
    }
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).tolist(),
        "l_partkey": rng.integers(0, np_, nl).tolist(),
        "l_suppkey": rng.integers(0, ns, nl).tolist(),
        "l_linenumber": rng.integers(1, 8, nl).tolist(),
        "l_quantity": rng.integers(1, 51, nl).astype(float).tolist(),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0).tolist(),
        "l_discount": (rng.integers(0, 11, nl) / 100.0).tolist(),
        "l_tax": (rng.integers(0, 9, nl) / 100.0).tolist(),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _timestamps(rng, nl, "1992-01-02", "1998-12-01",
                                  whole_days=True),
    }
    ne = n["events"]
    kinds = ["click", "view", "signup", "purchase", "error"]
    t["events"] = {
        "event_id": list(range(ne)),
        "ts": _timestamps(rng, ne, "2024-01-01", "2024-03-01"),
        "user_id": rng.integers(0, nc, ne).tolist(),
        "event_type": [f"card {c[:4]} {c[4:8]} {c[8:12]} {c[12:]}"
                       if rng.integers(0, 100) < 15
                       else kinds[int(rng.integers(0, len(kinds)))]
                       for c in (fill.card(valid=False) for _ in range(ne))],
        "value": _money(rng, ne, 0.0, 1000.0).tolist(),
        "props": _props(rng, ne, with_pii=True),
    }
    nd = n["documents"]
    text = _documents_text(rng, nd)
    t["documents"] = {
        "doc_id": list(range(nd)),
        "text": text,
        "lang": rng.choice(["en", "de", "fr", "es"], nd).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 8, nd)],
        "n_chars": [len(x) for x in text],
    }
    return t


def _snapshot_b(seed: int, tables: dict[str, dict[str, list]]) -> None:
    """Rewrite the CHANGED columns in place (snapshot B)."""
    rng = np.random.default_rng([seed, 1])
    tables["events"]["props"] = _props(
        rng, len(tables["events"]["props"]), with_pii=False)
    tables["customer"]["c_name"] = _c_names(
        rng, len(tables["customer"]["c_name"]))


def _write(tables: dict[str, dict[str, list]], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = {c: pa.array(cols[c], type=ARROW[ty])
                  for c, ty in SCHEMAS[name]}
        pq.write_table(pa.table(arrays), os.path.join(out_dir,
                                                      f"{name}.parquet"))


def write_catalog(seed: int, out_dir: str, snapshot: str = "A") -> int:
    """Write one catalog snapshot; returns its non-null cell count."""
    tables = _tables(seed)
    if snapshot == "B":
        _snapshot_b(seed, tables)
    _write(tables, out_dir)
    return sum(v is not None for cols in tables.values()
               for vals in cols.values() for v in vals)


def text_corpus(seed: int, n: int, pii_share: float = 0.4
                ) -> tuple[list[str], list[list[Span]]]:
    """``n`` distinct free-text values and each one's gold spans.

    A ``pii_share`` of the values is one filled F1 template (template
    ``i % 5`` for the i-th PII value); the rest are filler sentences."""
    rng = np.random.default_rng([seed, 2])
    fill = Fill(rng)
    texts: list[str] = []
    golds: list[list[Span]] = []
    seen: set[str] = set()
    n_pii = int(round(n * pii_share))
    while len(texts) < n:
        i = len(texts)
        if i < n_pii:
            text, spans = fill_template(fill, i % len(TEMPLATES))
        else:
            text, spans = " ".join(fill.sentence() for _ in range(2)), []
        if text in seen:
            continue
        seen.add(text)
        texts.append(text)
        golds.append(spans)
    return texts, golds
