"""Seeded input generators for the benchmark workloads.

Every table is built with numpy from one ``numpy.random.Generator`` per
table and written with pyarrow as a single-row-group snappy parquet file,
so the same seed gives byte-identical files and another seed gives other
files. The engine only ever sees these files.

The relational/corpus tables copy the shape of the TPC-H-like test data
the engine is developed against (column names, types, value domains,
5% ``" dup"`` near-duplicate documents, unit-norm 64-d embeddings). The
flights feed follows ``flights/schema.py`` FLIGHT_SCHEMA and the F1/F2
fixture rules in FIXTURES.md.
"""

from __future__ import annotations

import os
import zlib
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: the 30-word document vocabulary; near-duplicate copies end in " dup"
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.148, 0.41, 0.148, 0.148, 0.146)

#: id offset between copies of a scaled corpus table
COPY_SHIFT = 10_000_000
#: scale factor of the relational/corpus tables of the query workloads
SF = 0.01
#: the one calendar month, and its row count, of the raw flights feed
FLIGHTS_MONTH = (2024, 1)
FLIGHTS_ROWS = 20_000


def _rng(seed: int, name: str) -> np.random.Generator:
    """Independent stream per (seed, table) so one table's size never
    shifts another table's values."""
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table, path, compression="snappy", row_group_size=max(1, table.num_rows)
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime, end: datetime, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.date(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _choice(rng, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TPC-H-like growth;
    the corpus tables keep a 500-row floor)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": max(10, round(10_000 * sf)),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng, n: int) -> dict[str, list]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    # exactly 5% near-duplicates (a fixed count keeps the dedup work the
    # same across seeds): an earlier document plus a trailing " dup"
    for i in np.sort(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "text": texts,
        "lang": _choice(rng, LANGS, n, LANG_P),
    }


def _unit_vectors(rng, n: int, dim: int = 64) -> np.ndarray:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _embedding_table(ids, vecs, labels) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _document_table(ids, texts, lang, n_sources: int = 20) -> pa.Table:
    ids = np.asarray(ids, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": lang,
            "source": pa.array([f"src{i % n_sources}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten relational/corpus tables at scale factor ``sf``."""
    n = table_rows(sf)
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }

    r, k = _rng(seed, "customer"), n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], pa.string()),
            "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, k),
            "c_mktsegment": _choice(r, SEGMENTS, k),
        }
    )

    r, k = _rng(seed, "supplier"), n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], pa.string()),
            "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, k),
        }
    )

    r, k = _rng(seed, "part"), n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": _choice(r, names, k),
            "p_brand": _choice(r, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _choice(r, PART_TYPES, k),
            "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
        }
    )

    r, k = _rng(seed, "orders"), n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": _choice(r, ("F", "O", "P"), k),
            "o_totalprice": _money(r, 1000.0, 500000.0, k),
            "o_orderdate": pa.array(
                _days(r, datetime(1995, 1, 1), datetime(2001, 8, 1), k),
                pa.timestamp("us"),
            ),
            "o_orderpriority": _choice(r, PRIORITIES, k),
        }
    )

    r, k = _rng(seed, "lineitem"), n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
            "l_quantity": r.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, k),
            "l_discount": np.round(r.uniform(0.0, 0.1, k), 2),
            "l_tax": np.round(r.uniform(0.0, 0.08, k), 2),
            "l_returnflag": _choice(r, ("A", "N", "R"), k),
            "l_linestatus": _choice(r, ("F", "O"), k),
            "l_shipdate": pa.array(
                _days(r, datetime(1995, 1, 2), datetime(2001, 11, 4), k),
                pa.timestamp("us"),
            ),
        }
    )

    r, k = _rng(seed, "events"), n["events"]
    users = max(1, round(15_000 * sf))
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, k)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, users, k), pa.int64()),
            "event_type": _choice(r, EVENT_TYPES, k),
            "value": np.round(r.exponential(50.0, k), 2),
            "props": pa.array(
                [f'{{"k": {v}}}' for v in r.integers(0, 100, k)], pa.string()
            ),
        }
    )

    r, k = _rng(seed, "documents"), n["documents"]
    docs = _documents(r, k)
    out["documents"] = _document_table(np.arange(k), docs["text"], docs["lang"])

    r, k = _rng(seed, "embeddings"), n["embeddings"]
    out["embeddings"] = _embedding_table(
        np.arange(k), _unit_vectors(r, k), r.integers(0, 10, k)
    )
    return out


def scale_corpus(seed: int, tables: dict[str, pa.Table], factor: int) -> None:
    """Grow ``documents``, ``embeddings`` and ``events`` to ``factor``
    copies in place: copy ``i`` shifts its ids by ``i * COPY_SHIFT`` and is
    perturbed, so copies are near-duplicates of each other, not exact ones
    (one substituted word per document, small noise per vector, ``i`` µs
    per event timestamp)."""
    r = _rng(seed, "scale_corpus")
    docs = tables["documents"]
    d_ids = docs["doc_id"].to_numpy()
    d_text = docs["text"].to_pylist()
    d_lang = docs["lang"].combine_chunks()
    ids, texts, langs = [d_ids], list(d_text), [d_lang]
    for i in range(1, factor):
        for t in d_text:
            words = t.split(" ")
            words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        ids.append(d_ids + i * COPY_SHIFT)
        langs.append(d_lang)
    tables["documents"] = _document_table(
        np.concatenate(ids), texts, pa.concat_arrays(langs)
    )

    emb = tables["embeddings"]
    e_ids = emb["vec_id"].to_numpy()
    e_lab = emb["label"].to_numpy()
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    all_v, all_ids = [vecs], [e_ids]
    for i in range(1, factor):
        v = vecs + r.normal(0.0, 0.02, vecs.shape).astype(np.float32)
        all_v.append(v / np.linalg.norm(v, axis=1, keepdims=True))
        all_ids.append(e_ids + i * COPY_SHIFT)
    tables["embeddings"] = _embedding_table(
        np.concatenate(all_ids), np.concatenate(all_v), np.tile(e_lab, factor)
    )

    ev = tables["events"]
    copies = []
    for i in range(factor):
        c = ev.set_column(0, "event_id", pa.array(ev["event_id"].to_numpy() + i * COPY_SHIFT))
        ts = ev["ts"].to_numpy() + np.timedelta64(i, "us")
        copies.append(c.set_column(1, "ts", pa.array(ts, pa.timestamp("us"))))
    tables["events"] = pa.concat_tables(copies)


# ---------------------------------------------------------------------------
# flights feed (FLIGHT_SCHEMA + FIXTURES.md F1/F2)
# ---------------------------------------------------------------------------

CARRIERS = (
    "AA", "DL", "UA", "WN", "B6", "AS", "NK", "F9", "HA", "G4", "SY", "MQ",
    "OO", "YX", "9E",
)
#: carriers flown in the feed but absent from the carrier lookup
UNLISTED_CARRIERS = ("QX", "ZW")
N_AIRPORTS = 40
#: airports flown in the feed but absent from the airport lookup
N_UNLISTED_AIRPORTS = 3


def _airports() -> list[tuple[str, int]]:
    codes = []
    for i in range(N_AIRPORTS):
        a, b = divmod(i * 7 + 3, 26)
        codes.append((f"{chr(65 + a % 26)}{chr(65 + b)}{chr(65 + (i * 11) % 26)}", 10100 + i * 37))
    return codes


def _hhmm(minutes: np.ndarray) -> list[str]:
    m = np.mod(minutes, 1440).astype(np.int64)
    return [f"{h:02d}{mm:02d}" for h, mm in zip(m // 60, m % 60)]


def flights_month(seed: int, year: int, month: int, n: int) -> pa.Table:
    """One calendar month of raw flights with cancellations (~3%),
    diversions (~0.2%), missing delays (~3%), delay outliers (~2%),
    padded codes, bucket-boundary delays and lookup misses."""
    r = _rng(seed, f"flights-{year}-{month}")
    start = datetime(year, month, 1)
    end = (start + timedelta(days=32)).replace(day=1) - timedelta(days=1)
    days = _days(r, start, end, n)
    ports = _airports()
    o_idx = r.integers(0, N_AIRPORTS, n)
    d_idx = (o_idx + r.integers(1, N_AIRPORTS, n)) % N_AIRPORTS
    carriers = np.asarray(CARRIERS + UNLISTED_CARRIERS, dtype=object)
    c_p = np.r_[np.full(len(CARRIERS), 0.98 / len(CARRIERS)), [0.01, 0.01]]
    carrier = carriers[r.choice(len(carriers), n, p=c_p)]

    def code(idx):
        c = np.asarray([ports[i][0] for i in idx], dtype=object)
        pad = r.random(n) < 0.02  # stray whitespace the cleaner trims
        c[pad] = [f" {x.lower()} " for x in c[pad]]
        return c

    cancelled = r.random(n) < 0.03
    diverted = ~cancelled & (r.random(n) < 0.002)
    dep_delay = np.round(r.normal(8.0, 25.0, n).clip(-59, 299))
    outlier = r.random(n) < 0.02
    dep_delay[outlier] = r.integers(300, 2000, int(outlier.sum()))
    edge = r.integers(0, n, 6)
    dep_delay[edge] = (0.0, 15.0, 60.0, 180.0, 181.0, -12.0)
    arr_delay = dep_delay + np.round(r.normal(0.0, 10.0, n))
    crs_dep = r.integers(300, 1380, n)
    air_time = r.integers(30, 420, n).astype(np.float64)
    distance = np.round(air_time * r.uniform(6.0, 9.0, n))
    crs_arr = crs_dep + air_time.astype(np.int64) + 20

    missing = ~cancelled & (r.random(n) < 0.03)

    def nullable(x, mask):
        return pa.array(np.where(mask, np.nan, x), pa.float64(), from_pandas=True)

    dep_null, arr_null = cancelled | missing, cancelled | missing
    dep_time = _hhmm(crs_dep + np.nan_to_num(dep_delay).astype(np.int64))
    arr_time = _hhmm(crs_arr + np.nan_to_num(arr_delay).astype(np.int64))
    return pa.table(
        {
            "FL_DATE": pa.array(days, pa.timestamp("us", tz="UTC")),
            "OP_UNIQUE_CARRIER": pa.array(carrier, pa.string()),
            "OP_CARRIER_FL_NUM": pa.array(r.integers(1, 7000, n), pa.int32()),
            "ORIGIN": pa.array(code(o_idx), pa.string()),
            "ORIGIN_AIRPORT_ID": pa.array([ports[i][1] for i in o_idx], pa.int32()),
            "DEST": pa.array(code(d_idx), pa.string()),
            "DEST_AIRPORT_ID": pa.array([ports[i][1] for i in d_idx], pa.int32()),
            "CRS_DEP_TIME": pa.array(_hhmm(crs_dep), pa.string()),
            "DEP_TIME": pa.array(
                [None if c else t for c, t in zip(cancelled, dep_time)], pa.string()
            ),
            "DEP_DELAY": nullable(dep_delay, dep_null),
            "DEP_DELAY_NEW": nullable(np.maximum(dep_delay, 0.0), dep_null),
            "CRS_ARR_TIME": pa.array(_hhmm(crs_arr), pa.string()),
            "ARR_TIME": pa.array(
                [None if c else t for c, t in zip(cancelled, arr_time)], pa.string()
            ),
            "ARR_DELAY": nullable(arr_delay, arr_null),
            "ARR_DELAY_NEW": nullable(np.maximum(arr_delay, 0.0), arr_null),
            "CANCELLED": cancelled.astype(np.float64),
            "DIVERTED": diverted.astype(np.float64),
            "AIR_TIME": nullable(air_time, cancelled),
            "DISTANCE": distance,
        }
    )


def airport_lookup() -> pa.Table:
    """``Code,Description`` airport lookup (F2), missing the last
    ``N_UNLISTED_AIRPORTS`` airports so the bronze left join has misses."""
    ports = _airports()[: N_AIRPORTS - N_UNLISTED_AIRPORTS]
    return pa.table(
        {
            "Code": pa.array([str(i) for _, i in ports], pa.string()),
            "Description": pa.array(
                [f"City {c}, ST: {c} International" for c, _ in ports], pa.string()
            ),
        }
    )


def carrier_lookup() -> pa.Table:
    """``Code,Description`` carrier lookup (F2); every third code is
    padded with whitespace for the reader's trim."""
    return pa.table(
        {
            "Code": pa.array(
                [f" {c} " if i % 3 == 0 else c for i, c in enumerate(CARRIERS)],
                pa.string(),
            ),
            "Description": pa.array([f"{c} Airlines Inc." for c in CARRIERS], pa.string()),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    """Write ``tables`` as ``<name>.parquet`` and return their row and
    byte counts."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(t, path)
        stats[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return stats


def generate(workload: str, seed: int, out_dir: str, params: dict) -> dict[str, dict]:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir``; returns
    ``{table: {"rows", "bytes"}}`` for the result file."""
    if workload == "medallion_write":
        stats = write_tables({"raw": flights_month(seed, *FLIGHTS_MONTH, FLIGHTS_ROWS)}, out_dir)
        for name, t in (("airport_lookup", airport_lookup()), ("carrier_lookup", carrier_lookup())):
            path = os.path.join(out_dir, f"{name}.csv")
            pacsv.write_csv(t, path)
            stats[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
        return stats
    tables = base_tables(seed, SF)
    if params.get("corpus_factor", 1) > 1:
        scale_corpus(seed, tables, params["corpus_factor"])
    return write_tables(tables, out_dir)
