"""Seeded input generators for the benchmark.

Everything is a pure function of the seed (numpy ``default_rng``), so
one seed always writes byte-identical files and nothing is downloaded.

* :func:`zip_inputs` writes the trigger-path ETL inputs: a full zip-code
  CSV with unique ``(ZipCode, StateCode)`` keys, an incremental CSV that
  keeps 99% of those keys and adds 1% new ones, and the zip codes whose
  geocode call fails during the full run.
* :func:`query_tables` writes the ten tables the registered queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), shaped like the TPC-H-ish tables in TESTDATA.md.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATES = (
    ("01", "Alabama", "AL"), ("02", "Alaska", "AK"), ("04", "Arizona", "AZ"),
    ("05", "Arkansas", "AR"), ("06", "California", "CA"), ("08", "Colorado", "CO"),
    ("09", "Connecticut", "CT"), ("10", "Delaware", "DE"), ("12", "Florida", "FL"),
    ("13", "Georgia", "GA"), ("15", "Hawaii", "HI"), ("16", "Idaho", "ID"),
    ("17", "Illinois", "IL"), ("18", "Indiana", "IN"), ("19", "Iowa", "IA"),
    ("20", "Kansas", "KS"), ("21", "Kentucky", "KY"), ("22", "Louisiana", "LA"),
    ("23", "Maine", "ME"), ("24", "Maryland", "MD"), ("25", "Massachusetts", "MA"),
    ("26", "Michigan", "MI"), ("27", "Minnesota", "MN"), ("28", "Mississippi", "MS"),
    ("29", "Missouri", "MO"), ("30", "Montana", "MT"), ("31", "Nebraska", "NE"),
    ("32", "Nevada", "NV"), ("33", "New Hampshire", "NH"), ("34", "New Jersey", "NJ"),
    ("35", "New Mexico", "NM"), ("36", "New York", "NY"), ("37", "North Carolina", "NC"),
    ("38", "North Dakota", "ND"), ("39", "Ohio", "OH"), ("40", "Oklahoma", "OK"),
    ("41", "Oregon", "OR"), ("42", "Pennsylvania", "PA"), ("44", "Rhode Island", "RI"),
    ("45", "South Carolina", "SC"), ("46", "South Dakota", "SD"), ("47", "Tennessee", "TN"),
    ("48", "Texas", "TX"), ("49", "Utah", "UT"), ("50", "Vermont", "VT"),
    ("51", "Virginia", "VA"), ("53", "Washington", "WA"), ("54", "West Virginia", "WV"),
    ("55", "Wisconsin", "WI"), ("56", "Wyoming", "WY"),
)
PLACES = (
    "Polk", "Washington", "Georgetown", "Easton", "Franklin", "Clinton", "Madison",
    "Jefferson", "Marion", "Greene", "Salem", "Fairview", "Riverside", "Lincoln",
    "Jackson", "Monroe", "Union", "Springfield", "Oakland", "Centerville",
)
CSV_HEADER = "state_fips,state,state_abbr,zipcode,county,city\n"


@dataclass(frozen=True)
class ZipInputs:
    """Paths of one generated ETL input pair and its failing zip codes."""

    full_csv: str
    incr_csv: str
    fail_zips: frozenset[str]  # geocode fails for these during the full run


def _zip_rows(keys: np.ndarray, rng: np.random.Generator) -> list[str]:
    zips, st = np.divmod(keys, len(STATES))
    county = rng.integers(0, len(PLACES), len(keys))
    city = rng.integers(0, len(PLACES), len(keys))
    return [
        f"{STATES[s][0]},{STATES[s][1]},{STATES[s][2]},{z:05d},{PLACES[c]},{PLACES[t]}\n"
        for z, s, c, t in zip(zips.tolist(), st.tolist(), county.tolist(), city.tolist())
    ]


def _write_csv(path: str, rows: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(CSV_HEADER)
        f.writelines(rows)


def zip_inputs(out_dir: str, seed: int, n_rows: int, tag: str = "zip") -> ZipInputs:
    """Write ``<tag>_full.csv`` (``n_rows`` unique keys) and
    ``<tag>_incr.csv`` (99% of those keys, in a new order, plus 1% new
    keys), and pick the zip codes whose geocode fails (1% of the full
    file's rows, by zip code, so every row sharing a failed zip fails).

    Zip codes are 5-digit and never 35004/75074, the two golden codes
    the mock client answers specially."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_new = max(1, n_rows // 100)
    space = 100_000 * len(STATES)
    keys = rng.choice(space, size=n_rows + n_new + 64, replace=False)
    zips = keys // len(STATES)
    keys = keys[(zips != 35004) & (zips != 75074)]
    full, new = keys[:n_rows], keys[n_rows : n_rows + n_new]
    if len(full) < n_rows or len(new) < 1:
        raise ValueError("key space exhausted; lower n_rows")

    full_rows = _zip_rows(full, rng)
    kept = rng.permutation(n_rows)[: n_rows - n_new]
    incr_rows = [full_rows[i] for i in kept] + _zip_rows(new, rng)
    order = rng.permutation(len(incr_rows))
    incr_rows = [incr_rows[i] for i in order]
    # Failures are per zip code and a zip is shared by several states:
    # add the zips of random rows until they cover 1% of the rows.
    row_zips = full // len(STATES)
    per_zip = np.bincount(row_zips, minlength=100_000)
    fail, covered = set(), 0
    for i in rng.permutation(n_rows).tolist():
        z = int(row_zips[i])
        if z not in fail:
            fail.add(z)
            covered += int(per_zip[z])
            if covered >= max(1, n_rows // 100):
                break
    fail_zips = frozenset(f"{z:05d}" for z in fail)

    full_csv = os.path.join(out_dir, f"{tag}_full.csv")
    incr_csv = os.path.join(out_dir, f"{tag}_incr.csv")
    _write_csv(full_csv, full_rows)
    _write_csv(incr_csv, incr_rows)
    return ZipInputs(full_csv, incr_csv, fail_zips)


# --- query tables -------------------------------------------------------

WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data join vector customer"
).split()
P_ADJ = ("large", "hot", "blue", "small", "red", "green", "cold", "shiny", "tiny", "old",
         "new", "dark", "light")
P_NOUN = ("ring", "bolt", "anvil", "widget", "gear")
P_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents with planted exact (0.2%) and near (5%)
    duplicates, so the dedup and clustering queries find real pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.052:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    lang = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vec = centers[label] + rng.normal(0.0, 1.0, (n, DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat),
        "label": pa.array(label),
    })


def query_tables(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write the ten query tables at scale factor ``sf`` (sf 0.1 =
    600k lineitem rows) as single parquet files; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = max(10, int(15_000 * sf))

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    l_order = rng.integers(0, n_ord, n_line)
    ship_day = order_day[l_order] + rng.integers(1, 96, n_line)
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_2024
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, len(P_ADJ), n_part).tolist(),
                                rng.integers(0, len(P_NOUN), n_part).tolist())
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
            "p_type": _choice(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _choice(rng, ("F", "O"), n_line),
            "l_shipdate": _ts(_EPOCH_1995 + ship_day * _DAY_US),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, n_user, n_ev)),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]),
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
