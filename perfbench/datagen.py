"""Seeded inputs for the benchmark: fixture tables and a grep corpus.

Both are pure functions of (size, seed). The tables mirror the schemas and
value distributions of the engine's fixture set (``FIXTURES.md``): a
TPC-H-ish star schema, an ``events`` stream table and the two LLM-pipeline
tables. The corpus is newline-delimited UTF-8 text with heavy-tailed line
repetition and planted pattern hits (see ``PATTERN_PLAN``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = "blue cold hot large new old red small".split()
_PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """The ten fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": rng.choice(part_names, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 41, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Random-word documents: 5% near-duplicates (another doc's text plus
    " dup") and a handful of exact duplicates, as the fixture set has."""
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n)]
    near = rng.choice(n, n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    exact = rng.choice(n, 16, replace=False)
    for a, b in zip(exact[::2], exact[1::2]):
        texts[b] = texts[a]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(sf, seed).items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )


# --- grep corpus -----------------------------------------------------------

_CORPUS_WORDS = (
    "canta dea funesta infiniti addusse lutti molte anzi tempo generose "
    "travolse alme eroi cani augelli preda compiva sommo consiglio giorno "
    "prima discordi sorsero contesa prode navi campo peste popolo sacerdote "
    "oltraggiato riscatto figlia scettro corona chiome nere supplice parlava "
    "tutti fratelli città perché più già così virtù là giù però poiché "
    "mirabile spirava sospira delirava"
).split()

# Planted pattern words. A line's rank (0 = most repeated) decides which it
# carries, so every seed gives each pattern the same selectivity, hot lines
# included; the other words of a line are drawn from _CORPUS_WORDS.
PATTERN_PLAN = {
    "Achille": lambda r: r % 6 == 0,
    "ACHILLE": lambda r: r % 12 == 3,
    "achille": lambda r: r % 12 == 9,
    "Pelide": lambda r: r % 997 == 500,
    "Atride": lambda r: r % 10 == 4,
    "Priamo": lambda r: r % 10 == 7,
    "ira ira": lambda r: r % 8 == 2,
}


def corpus_lines(n_distinct: int, seed: int) -> list[bytes]:
    """Distinct UTF-8 lines; index = repetition rank."""
    rng = np.random.default_rng(seed)
    picks = rng.integers(0, len(_CORPUS_WORDS), (n_distinct, 9))
    where = rng.random((n_distinct, len(PATTERN_PLAN)))
    plan = list(PATTERN_PLAN.items())
    lines = []
    for r in range(n_distinct):
        ws = [_CORPUS_WORDS[j] for j in picks[r]]
        for p, (w, planted) in enumerate(plan):
            if planted(r):
                ws.insert(int(where[r, p] * (len(ws) + 1)), w)
        # the rank suffix keeps lines distinct
        ws.append(f"v{r}")
        lines.append(" ".join(ws).encode())
    return lines


def write_corpus(out_dir: str, mb: float, seed: int, files: int) -> list[str]:
    """Write ``files`` text files totalling ``mb`` MB (to within one
    line); return their paths.

    Three lines in four are drawn Zipf-like (a=1.3), so the top line is
    about a seventh of the corpus; the rest are uniform over all distinct
    lines, so ``GROUP BY line`` has both hot keys and a long tail.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    target = int(mb * 1e6)
    n_lines = target // 60  # more than needed; cut to size below
    n_distinct = max(1000, n_lines // 5)
    lines = np.array(corpus_lines(n_distinct, seed), dtype=object)
    ranks = rng.zipf(1.3, n_lines)
    uniform = (ranks > n_distinct) | (rng.random(n_lines) < 0.25)
    ranks[uniform] = rng.integers(1, n_distinct + 1, int(uniform.sum()))
    sizes = np.array([len(x) + 1 for x in lines])[ranks - 1]
    picked = lines[ranks[: int(np.searchsorted(np.cumsum(sizes), target)) + 1] - 1]
    paths = []
    for i, chunk in enumerate(np.array_split(picked, files)):
        path = os.path.join(out_dir, f"part-{i:03d}.txt")
        with open(path, "wb") as f:
            f.write(b"\n".join(chunk) + b"\n")
        paths.append(path)
    return paths
