"""Seeded input generators. Everything the engine sees is written here as
parquet files (pyarrow, no Spark), so a run's inputs depend only on the
seed and the sizes in spec.json."""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from maxx_spark.gen import CORPUS, EPOCH, FILLER_WORDS, LANGS, generate_pages_rows, synth_class_source

UTC = dt.timezone.utc
MEGA_HOST = "mega-mat.example.com"

PAGES_ARROW = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
UNITS_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("unit_path", pa.string()),
        ("kind", pa.string()),
        ("bases", pa.list_(pa.string())),
    ]
)
UNITS_DDL = "url string, warc_ts timestamp, unit_path string, kind string, bases array<string>"
EVENTS_ARROW = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("ms", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
    ]
)
EVENTS_DDL = "event_id bigint, ts timestamp, user_id bigint, event_type string"


def utc(ts: dt.datetime) -> dt.datetime:
    return ts.replace(tzinfo=UTC) if ts.tzinfo is None else ts


def write_files(rows: list[tuple], schema: pa.Schema, out_dir: str, per_file: int) -> list[tuple[str, int]]:
    """Write rows in order as numbered parquet files of `per_file` rows.
    Returns [(path, n_rows)] in write order."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for k, lo in enumerate(range(0, len(rows), per_file)):
        chunk = rows[lo : lo + per_file]
        cols = list(zip(*chunk))
        table = pa.table({f.name: pa.array(c, f.type) for f, c in zip(schema, cols)}, schema=schema)
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table, path)
        out.append((path, len(chunk)))
    return out


def stamp_mtimes(paths: list[str], start: float) -> None:
    """FileStreamSource orders files by mtime: pin it to the write order."""
    for k, p in enumerate(paths):
        os.utime(p, (start + k, start + k))


def _filler_row(rng: random.Random, host: str, i: int, ts: dt.datetime) -> tuple:
    words = " ".join(rng.choice(FILLER_WORDS) for _ in range(rng.randrange(20, 80)))
    return (f"https://{host}/page/{i}", ts, ("<p>" + words + "</p>").encode(), words, rng.choice(LANGS))


def backlog_pages(seed: int, n_pages: int, cfg: dict) -> list[tuple]:
    """Heavy classdef pages (one of cfg['heavy_templates'] seeded sources
    each), a mega-host share and non-MATLAB filler pages mixed in."""
    rng = random.Random(seed)
    templates = [
        synth_class_source(f"Heavy{k}", 16 + 4 * (k % 4), seed=seed * 1009 + k)
        for k in range(cfg["heavy_templates"])
    ]
    rows = []
    for i in range(n_pages):
        host = MEGA_HOST if rng.random() < cfg["mega_host_share"] else f"proj{rng.randrange(64)}.example.org"
        ts = utc(EPOCH + dt.timedelta(seconds=i + rng.random()))
        if rng.random() < cfg["filler_share"]:
            rows.append(_filler_row(rng, host, i, ts))
        else:
            k = rng.randrange(len(templates))
            rows.append((f"https://{host}/toolbox/Heavy{k}_{i}.m", ts, None, templates[k], "matlab"))
    return rows


def live_pages(seed: int, n_pages: int) -> list[tuple]:
    """Small mixed corpus pages from gen.generate_pages_rows (about three
    quarters project pages, one quarter filler), in a seeded release order."""
    n_projects = max(1, (3 * n_pages) // (4 * len(CORPUS)))
    rows = generate_pages_rows(n_projects=n_projects, n_filler=max(0, n_pages - len(CORPUS) * n_projects), seed=seed)
    rows = [(u, utc(ts), h, t, lang) for u, ts, h, t, lang in rows]
    random.Random(seed).shuffle(rows)
    return rows


def code_units(seed: int, n_units: int, cfg: dict) -> tuple[list[tuple], list[tuple]]:
    """Unit stream for the E6 join, in arrival order. Each unit is a class
    or function def; classes name 0-2 bases: defs of the same host within
    cfg['base_window_s'] of event time, or external names never defined.
    Returns (rows, needs) where needs are (host, base, derived) triples."""
    rng = random.Random(seed)
    t0 = utc(dt.datetime(2024, 5, 1))
    step = 0.5
    paths, kinds = [], []
    by_host: dict[str, list[int]] = {}
    for i in range(n_units):
        h = MEGA_HOST if rng.random() < cfg["mega_host_share"] else f"h{rng.randrange(cfg['hosts'])}.example.org"
        paths.append(f"pkg{i % 7}.U{i}")
        kinds.append("class" if rng.random() < 0.8 else "function")
        by_host.setdefault(h, []).append(i)
    window = int(cfg["base_window_s"] / step)
    rows, needs, arrival = [], [], []
    for h, idx in by_host.items():
        for pos, i in enumerate(idx):
            bases = None
            if kinds[i] == "class":
                bases = []
                for _ in range(rng.randrange(3)):
                    if rng.random() < cfg["external_base_share"]:
                        bases.append(f"ext.E{rng.randrange(10 * n_units)}")
                        continue
                    j = idx[rng.randrange(max(0, pos - 40), min(len(idx), pos + 41))]
                    if j != i and abs(j - i) <= window:
                        bases.append(paths[j])
                bases = sorted(set(bases)) or None
                needs += [(h, b, paths[i]) for b in bases or ()]
            ts = t0 + dt.timedelta(seconds=i * step)
            jitter = rng.uniform(-cfg["arrival_jitter_s"], cfg["arrival_jitter_s"])
            arrival.append(i * step + jitter)
            rows.append((f"https://{h}/src/{paths[i].replace('.', '/')}.m", ts, paths[i], kinds[i], bases))
    order = sorted(range(len(rows)), key=lambda k: arrival[k])
    return [rows[k] for k in order], needs


def unit_heartbeat(last_ts: dt.datetime) -> tuple:
    """A tick row 2 h of event time past the stream: it moves the watermark
    past every state timeout, so the no-data batch that follows fires them."""
    return (f"https://{MEGA_HOST}/hb/0.m", last_ts + dt.timedelta(hours=2), None, "error", None)


def events(seed: int, n_events: int, cfg: dict) -> list[tuple]:
    """Out-of-order event stream with a mega-user, in arrival order:
    arrival = event time + uniform jitter below the watermark delay, so
    every event reaches the state machine (none is late)."""
    rng = np.random.default_rng(seed)
    t0_ms = 1_722_500_000_000
    ts = t0_ms + np.sort(rng.integers(0, cfg["span_s"] * 1000, n_events))
    users = rng.integers(1, cfg["users"] + 1, n_events)
    users[rng.random(n_events) < cfg["mega_user_share"]] = 0
    types = np.array(cfg["event_types"])[rng.integers(0, len(cfg["event_types"]), n_events)]
    arrival = ts + rng.integers(-cfg["arrival_jitter_s"] * 1000, cfg["arrival_jitter_s"] * 1000, n_events)
    order = np.argsort(arrival, kind="stable")
    base = dt.datetime(1970, 1, 1, tzinfo=UTC)
    return [
        (int(k), base + dt.timedelta(milliseconds=int(ts[k])), int(users[k]), str(types[k]))
        for k in order
    ]


def event_heartbeat(last_ts: dt.datetime, event_id: int) -> tuple:
    """A 'noop' event of a user of its own, 2 h past the stream (see unit_heartbeat)."""
    return (event_id, last_ts + dt.timedelta(hours=2), -1, "noop")


# --------------------------------------------------------------------------
# batch suite tables: the schema, row counts, key cardinalities and value
# domains measured on the sf0.01 tables that queries() reads (spec.json,
# stateful_batch.suite.tables_measured), drawn from the seed
# --------------------------------------------------------------------------

DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector line "
    "table data agg value key stream window a spark part group big sort query fast the"
).split()
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int):
    return np.datetime64(start, "us") + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _pick(rng, values: list, n: int, p=None) -> list:
    return [values[k] for k in rng.choice(len(values), n, p=p)]


def write_tables(seed: int, out_dir: str, cfg: dict) -> None:
    rng = np.random.default_rng(seed)
    pr = random.Random(seed)
    n_c, n_s, n_p, n_o, n_l = cfg["customer"], cfg["supplier"], cfg["part"], cfg["orders"], cfg["lineitem"]
    n_e, n_d, n_v = cfg["events"], cfg["documents"], cfg["embeddings"]
    docs = [" ".join(pr.choice(DOC_WORDS) for _ in range(pr.randrange(10, 100))) for _ in range(n_d)]
    for i in pr.sample(range(n_d), round(cfg["near_duplicate_doc_share"] * n_d)):
        docs[i] = docs[pr.choice([j for j in range(n_d) if j != i])] + " dup"
    emb = rng.normal(size=(n_v, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(n_c), "c_name": [f"Customer#{k:09d}" for k in range(n_c)],
                     "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
                     "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                                           n_c)},
        "supplier": {"s_suppkey": np.arange(n_s), "s_name": [f"Supplier#{k:09d}" for k in range(n_s)],
                     "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n_s)},
        "part": {"p_partkey": np.arange(n_p),
                 "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_p, 2))],
                 "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_p)],
                 "p_type": _pick(rng, ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_p),
                 "p_size": rng.integers(1, 51, n_p).astype(np.int32),
                 "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10, 1)},
        "orders": {"o_orderkey": np.arange(n_o), "o_custkey": rng.integers(0, n_c, n_o),
                   "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
                   "o_totalprice": _money(rng, 1000, 500000, n_o),
                   "o_orderdate": _days(rng, "1995-01-01", 2404, n_o),
                   "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o)},
        # line items pick their order uniformly, as in the measured tables
        # (so 1-13 lines per order and some orders with none)
        "lineitem": {"l_orderkey": rng.integers(0, n_o, n_l), "l_partkey": rng.integers(0, n_p, n_l),
                     "l_suppkey": rng.integers(0, n_s, n_l), "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 105000, n_l),
                     "l_discount": _money(rng, 0, 0.1, n_l), "l_tax": _money(rng, 0, 0.08, n_l),
                     "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
                     "l_linestatus": _pick(rng, ["F", "O"], n_l),
                     "l_shipdate": _days(rng, "1995-01-02", 2499, n_l)},
        "events": {"event_id": np.arange(n_e),
                   # sorted + arange: strictly increasing, so no two events tie
                   "ts": np.datetime64("2024-01-01", "us")
                   + (np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e)) + np.arange(n_e)).astype("timedelta64[us]"),
                   "user_id": rng.integers(0, cfg["event_users"], n_e),
                   "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], n_e),
                   "value": np.maximum(np.round(rng.exponential(cfg["event_value_mean"], n_e), 2), 0.01),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]},
        "documents": {"doc_id": np.arange(n_d), "text": docs,
                      "lang": _pick(rng, list(cfg["doc_lang_share"]), n_d, list(cfg["doc_lang_share"].values())),
                      "source": [f"src{k % 20}" for k in range(n_d)],
                      "n_chars": np.array([len(t) for t in docs], dtype=np.int64)},
        "embeddings": {"vec_id": np.arange(n_v),
                       "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                       "label": rng.integers(0, 10, n_v).astype(np.int32)},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
