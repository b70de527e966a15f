"""Seeded input generators for the benchmark workloads.

Pure numpy + pyarrow, no Spark: every input is a function of the seed
(and the size arguments) alone, written as parquet with fixed writer
settings, so the same seed yields byte-identical files and the package
under test receives only those files.

Each generator also returns the facts the benchmark's output check
needs (row counts, the NEP metrics the log implies), computed here from
the generated values rather than by the package.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WRITE_KW = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, **_WRITE_KW)
    return os.path.getsize(path)


def _rngs(seed: int, n: int) -> list[np.random.Generator]:
    """Independent child generators, so one table's values never depend
    on how many draws another table made."""
    return [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(n)]


def dir_digest(path: str) -> str:
    """sha256 over (relative name, bytes) of every file under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------------------
# catalog tables: the TPC-H-ish star schema + events/documents/embeddings
# layout every catalog query reads through the registry
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "es", "de", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _ts_us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64), pa.timestamp("us"))


def catalog_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten registry tables at scale factor ``sf``; returns
    {table: rows} and the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rngs(seed, 10)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def money(g, lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    g = r[0]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(g, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[g.integers(0, 5, n_cust)],
        }
    )
    g = r[1]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(g, -999.99, 9999.99, n_supp),
        }
    )
    g = r[2]
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    pkeys = np.arange(n_part)
    retail = 900.0 + (pkeys % 1000) / 10.0
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pkeys, pa.int64()),
            "p_name": names[g.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[g.integers(0, 6, n_part)],
            "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    g = r[3]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
            "o_totalprice": money(g, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us(
                _EPOCH_1995_US + g.integers(0, 2400, n_ord) * _DAY_US
            ),
            "o_orderpriority": np.array(_PRIORITIES)[g.integers(0, 5, n_ord)],
        }
    )
    g = r[4]
    l_part = g.integers(0, n_part, n_line)
    qty = g.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * retail[l_part] * g.uniform(1.0, 1.05, n_line), 2
            ),
            "l_discount": g.integers(0, 11, n_line) / 100.0,
            "l_tax": g.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_line)],
            "l_shipdate": _ts_us(
                _EPOCH_1995_US + (1 + g.integers(0, 2500, n_line)) * _DAY_US
            ),
        }
    )
    g = r[5]
    ts = np.sort(g.integers(0, 30 * _DAY_US, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us(_EPOCH_2024_US + ts),
            "user_id": pa.array(g.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[g.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(g.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        }
    )
    g = r[6]
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and g.random() < 0.05:
            # near-duplicate of an earlier document, for the dedup family
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[g.integers(0, len(words), g.integers(10, 100))]))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[g.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    g = r[7]
    labels = g.integers(0, 10, n_emb)
    centroids = g.normal(0.0, 1.0, (10, 64)) * 0.025
    vecs = centroids[labels] + g.normal(0.0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )

    rows = {}
    total = 0
    for name, t in tables.items():
        total += _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return {"rows": rows, "bytes": total}


# ---------------------------------------------------------------------------
# NEP raw log: nested sessions with the reference's JSON payload fields
# ---------------------------------------------------------------------------

NEP_API_KEY = "4d7a1c3e-0b6f-4e2a-9c58-2f1e6b7d9a10"
NEP_START = "2019-01-13"
NEP_END = "2019-03-14"
_DAY_MS = 86_400_000
_NEP_LO_MS = 1_547_078_400_000  # 2019-01-10T00:00:00Z
_NEP_HI_MS = 1_552_694_400_000  # 2019-03-16T00:00:00Z
_NEP_START_DAY = (1_547_337_600_000) // _DAY_MS  # 2019-01-13
_NEP_END_DAY = (1_552_521_600_000) // _DAY_MS  # 2019-03-14
_KEPT_ACTIONS = ("detail", "add", "purchase")

_EVENT_STRUCT = pa.struct(
    [
        ("event_type", pa.string()),
        ("hashed_url", pa.string()),
        ("product_action", pa.string()),
        ("product_sku", pa.string()),
        ("server_timestamp_epoch_ms", pa.string()),
        ("session_id", pa.string()),
    ]
)


@dataclass
class NepTruth:
    """What the generated log implies for one ``run_nep_flow`` run."""

    raw_events: int  # events in one load
    session_events: int  # sessions with at least one kept product event
    extracted: int  # in the date window, at least 3 interactions
    n_train: int
    n_test: int
    vocab_size: int
    skus: int  # SKU catalog size the log draws from
    bytes: int = 0

    def as_dict(self) -> dict:
        return asdict(self)


def _train_count(n: int, frac: float = 0.9) -> int:
    """Rows ``percent_rank() < frac`` keeps out of ``n`` distinct keys."""
    if n <= 1:
        return n
    return sum(1 for r in range(n) if r / (n - 1) < frac)


def nep_sessions(
    path: str, seed: int, n_sessions: int, n_skus: int, mean_len: int
) -> NepTruth:
    """One parquet file of nested sessions (``events`` array of A2
    payload structs). SKU popularity is Zipf-like over ``n_skus``; about
    10% of events are page views or filtered actions; a few sessions
    fall outside the extraction window; timestamps repeat inside a
    session now and then, and every 50th SKU arrives upper-cased with a
    space, so normalisation and the (time, sku) tie-break are exercised."""
    g = _rngs(seed, 1)[0]
    weights = 1.0 / (np.arange(n_skus) + 10.0)
    weights /= weights.sum()
    lengths = g.integers(1, 2 * mean_len, n_sessions)
    starts = g.integers(_NEP_LO_MS, _NEP_HI_MS, n_sessions)
    kinds = g.random(lengths.sum())  # <0.05 pageview, <0.10 filtered action
    sku_ids = g.choice(n_skus, lengths.sum(), p=weights)
    gaps = g.integers(0, 60, lengths.sum()) * 1000  # 0 => duplicate timestamp
    actions = np.array(_KEPT_ACTIONS)[g.choice(3, lengths.sum(), p=[0.7, 0.2, 0.1])]
    dropped = np.array(["remove", "click"])[g.integers(0, 2, lengths.sum())]

    sessions = []
    truth_rows = []  # (session_date_day, session_id, interactions)
    pos = 0
    for s in range(n_sessions):
        sid = f"{(s * 0x9E3779B1 + seed) % (1 << 48):012x}"
        t = int(starts[s])
        events = []
        kept = []
        for j in range(int(lengths[s])):
            k = pos + j
            if j:
                t += int(gaps[k])
            sku_i = int(sku_ids[k])
            norm = f"sku_{sku_i:05x}"
            raw_sku = f"SKU {sku_i:05x}" if sku_i % 50 == 0 else norm
            if kinds[k] < 0.05:
                etype, action, sku = "pageview", None, None
            else:
                etype = "event_product"
                action = str(dropped[k]) if kinds[k] < 0.10 else str(actions[k])
                sku = raw_sku
                if action in _KEPT_ACTIONS:
                    kept.append((t, norm))
            events.append(
                {
                    "event_type": etype,
                    "hashed_url": f"{(sku_i * 2654435761) % (1 << 32):08x}",
                    "product_action": action,
                    "product_sku": sku,
                    "server_timestamp_epoch_ms": str(t),
                    "session_id": sid,
                }
            )
        pos += int(lengths[s])
        sessions.append(events)
        if kept:
            kept.sort()
            truth_rows.append(
                (int(starts[s]) // _DAY_MS, sid, [sku for _, sku in kept])
            )

    table = pa.table({"events": pa.array(sessions, pa.list_(_EVENT_STRUCT))})
    size = _write(table, path)

    extracted = sorted(
        (day, sid, inter)
        for day, sid, inter in truth_rows
        if _NEP_START_DAY < day <= _NEP_END_DAY and len(inter) >= 3
    )
    n_train = _train_count(len(extracted))
    vocab = {tok for _, _, inter in extracted[:n_train] for tok in inter[:-1]}
    return NepTruth(
        raw_events=int(lengths.sum()),
        session_events=len(truth_rows),
        extracted=len(extracted),
        n_train=n_train,
        n_test=len(extracted) - n_train,
        vocab_size=len(vocab),
        skus=n_skus,
        bytes=size,
    )


# ---------------------------------------------------------------------------
# streaming backlog: ordered event files, one per future micro-batch
# ---------------------------------------------------------------------------

_STREAM_BASE_NS = 1_700_000_000_000_000_000
TEN_MIN_NS = 600 * 1_000_000_000


@dataclass
class StreamTruth:
    rows: int
    distinct_event_ids: int
    files: int
    bytes: int = 0

    def as_dict(self) -> dict:
        return asdict(self)


def stream_backlog(
    src_dir: str, seed: int, n_files: int, rows_per_file: int, n_users: int
) -> StreamTruth:
    """``n_files`` parquet files in the stream schema (ts as epoch-ns
    long). File i covers event time [i*10min, (i+1)*10min); about 10%
    of rows repeat an earlier event id of the same file, so every
    duplicate lies inside a 10-minute watermark horizon."""
    os.makedirs(src_dir, exist_ok=True)
    rngs = _rngs(seed, n_files)
    total = 0
    distinct = 0
    next_id = 0
    for i, g in enumerate(rngs):
        ids = np.arange(next_id, next_id + rows_per_file, dtype=np.int64)
        dup = g.random(rows_per_file) < 0.1
        originals = np.flatnonzero(~dup)
        # a duplicate repeats the id of an original row of the same file
        ids[dup] = ids[originals[g.integers(0, originals.size, int(dup.sum()))]]
        distinct += int(originals.size)
        next_id += rows_per_file
        ts = _STREAM_BASE_NS + i * TEN_MIN_NS + np.sort(
            g.integers(0, TEN_MIN_NS, rows_per_file)
        )
        table = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ts, pa.int64()),
                "user_id": pa.array(g.integers(0, n_users, rows_per_file), pa.int64()),
                "event_type": np.array(["view", "click", "purchase"])[
                    g.integers(0, 3, rows_per_file)
                ],
                "value": g.integers(0, 10_000, rows_per_file) / 100.0,
                "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, rows_per_file)],
            }
        )
        total += _write(table, os.path.join(src_dir, f"batch_{i:05d}.parquet"))
    return StreamTruth(
        rows=n_files * rows_per_file, distinct_event_ids=distinct, files=n_files, bytes=total
    )
