"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, so one seed can be used while writing a change and
a second, held-out seed to check a claim.

- `corpus`: the dedup_ingest byte corpus (small blobs plus a few large
  ones), with a stated share of bytes copied from earlier blobs at a
  random shift and with small edits.
- `tables`: the ten star-schema tables the query registry reads
  (TPC-H-like shapes plus events, documents and embeddings).
- `lake_rows` and `lake_ops`: the rows the lake table is created from
  and the seeded stream of reads and commits run against it.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- corpus

CORPUS = dict(
    small_blobs=384,          # 4-64 KiB each
    small_min=4 << 10,
    small_max=64 << 10,
    large_blobs=2,            # multi-MiB blobs, also run segmented
    large_min=5 << 19,        # 2.5 MiB: fixed, so every seed chunks
    large_max=5 << 19,        # the same number of large-blob bytes
    dup_share=0.30,           # share of blobs that copy an earlier blob
    edit_rate=1 / 4096,       # point edits per copied byte
)


def corpus(seed, cfg=CORPUS):
    """Return `(small, large)`: two lists of `bytes` blobs.

    A copied blob takes a random earlier blob, rotates it by a random
    shift (so fixed-size chunking loses the alignment and CDC does not),
    and flips `edit_rate` of its bytes. Fresh blobs are random bytes.
    """
    rng = np.random.default_rng([seed, 1])
    small = []
    for _ in range(cfg["small_blobs"]):
        n = int(rng.integers(cfg["small_min"], cfg["small_max"] + 1))
        if small and rng.random() < cfg["dup_share"]:
            src = np.frombuffer(small[int(rng.integers(len(small)))], np.uint8)
            blob = np.resize(np.roll(src, int(rng.integers(1, len(src)))), n)
            blob = blob.copy()
            k = max(1, int(n * cfg["edit_rate"]))
            blob[rng.integers(0, n, k)] = rng.integers(0, 256, k, dtype=np.uint8)
        else:
            blob = rng.integers(0, 256, n, dtype=np.uint8)
        small.append(blob.tobytes())
    large = []
    for _ in range(cfg["large_blobs"]):
        n = int(rng.integers(cfg["large_min"], cfg["large_max"] + 1))
        blob = rng.integers(0, 256, n, dtype=np.uint8)
        # each large blob repeats a run of itself at a shift, so dedup
        # finds work inside a blob as well as across blobs
        run = n // 4
        at = int(rng.integers(0, n - run))
        to = int(rng.integers(0, n - run))
        blob[to:to + run] = blob[at:at + run].copy()
        large.append(blob.tobytes())
    return small, large


def write_corpus(seed, out_dir, cfg=CORPUS):
    """Write `corpus.parquet` (every blob) and `large.parquet` (the large
    ones), both `(id long, content binary)`. Large blobs sit spread through
    the corpus file, and its row groups are small, so a scan splits evenly.
    `warm_corpus.parquet` and `warm_large.parquet` hold a small slice of
    each, for the JIT warmup.
    """
    small, large = corpus(seed, cfg)
    blobs = list(small)
    step = max(1, len(small) // (len(large) + 1))
    for j, b in enumerate(large):
        blobs.insert((j + 1) * step + j, b)
    large_ids = [blobs.index(b) for b in large]
    warm_large = [i for i in large_ids if len(blobs[i]) == min(map(len, large))][:1]
    for name, ids in (("corpus", range(len(blobs))), ("large", large_ids),
                      ("warm_corpus", range(min(48, len(blobs)))),
                      ("warm_large", warm_large)):
        t = pa.table({
            "id": pa.array(list(ids), pa.int64()),
            "content": pa.array([blobs[i] for i in ids], pa.binary()),
        })
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=32, compression="none")
    return {"corpus_bytes": sum(map(len, blobs)),
            "large_bytes": sum(map(len, large)), "blobs": len(blobs)}


# ---------------------------------------------------------------- tables

PART_COLORS = ["blue", "cold", "hot", "large", "new"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _ts(rng, n, lo, hi, unit):
    """n sorted-free timestamps in [lo, hi) at `unit` resolution."""
    a = np.datetime64(lo, unit).astype(np.int64)
    b = np.datetime64(hi, unit).astype(np.int64)
    return rng.integers(a, b, n).astype(f"datetime64[{unit}]")


def _day_ts(rng, n, lo, hi):
    return pa.array(_ts(rng, n, lo, hi, "D").astype("datetime64[us]"),
                    pa.timestamp("us"))


def tables(seed, sf):
    """The ten registry tables at scale factor `sf`, as pyarrow Tables."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust), s)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    names = [f"{c} {n}" for c in PART_COLORS for n in PART_NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array(rng.choice(names, n_part), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(rng.integers(9000, 10000, n_part) / 10.0, f64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord), s)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(money(900, 105000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": _day_ts(rng, n_line, "1995-01-02", "2001-11-05")})
    ts = np.sort(_ts(rng, n_ev, "2024-01-01", "2024-01-31", "us"))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.05:      # near-duplicate: an earlier doc plus a token
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        elif texts and r < 0.053:   # exact duplicate
            texts.append(texts[int(rng.integers(len(texts)))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return out


def write_tables(seed, sf, out_dir):
    """Write each table as `<out_dir>/<name>.parquet`; return row counts."""
    counts = {}
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


# ---------------------------------------------------------------- lake

LAKE = dict(
    rows=10_000,         # rows the table is created from (CTAS)
    orders=2_500,        # distinct l_orderkey values
    months=24,           # distinct ship_month partitions
    # the fixed op sequence: only keys, months, rows and versions are
    # seeded, so every seed does the same amount of each kind of work
    kinds=["point", "part_agg", "insert", "point", "travel", "eqdelete",
           "part_agg", "travel", "merge", "point"],
)


def lake_rows(seed, cfg=LAKE):
    """Rows for the CTAS: (l_orderkey, l_partkey, qty, net_cents, ship_month)."""
    rng = np.random.default_rng([seed, 3])
    n = cfg["rows"]
    months = _months(cfg)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, cfg["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "qty": pa.array(rng.integers(1, 51, n), pa.int64()),
        "net_cents": pa.array(rng.integers(100, 1_000_000, n), pa.int64()),
        "ship_month": pa.array(rng.choice(months, n), pa.string()),
    })


def _months(cfg):
    return [f"{1995 + m // 12}-{m % 12 + 1:02d}" for m in range(cfg["months"])]


def lake_ops(seed, cfg=LAKE):
    """The op stream: a list of dicts, each a read or a commit.

    Reads: `point` (rows of one key), `part_agg` (count and sums of one
    partition), `travel` (`part_agg` at an earlier committed version).
    Commits: `insert` (20 new rows), `eqdelete` (key-equality delete of 3
    keys), `merge` (4 existing keys add to qty, 1 new key inserts).
    Versions count commits: the CTAS is version 1 and commit i makes
    version i + 1, so a `travel` read names a version already committed.
    """
    rng = np.random.default_rng([seed, 4])
    months = _months(cfg)

    def month():
        return months[int(rng.integers(len(months)))]

    def keys(n):
        return sorted(int(k) for k in rng.choice(cfg["orders"], n, replace=False))

    next_key = 10_000_000
    version = 1
    ops = []
    for kind in cfg["kinds"]:
        if kind == "insert":
            rows = [[next_key + i, int(rng.integers(0, 2000)), int(rng.integers(1, 51)),
                     int(rng.integers(100, 1_000_000)), month()] for i in range(20)]
            next_key += 20
            ops.append({"kind": kind, "rows": rows})
        elif kind == "eqdelete":
            ops.append({"kind": kind, "keys": keys(3)})
        elif kind == "merge":
            # a key absent at commit time inserts with its month
            src = [[k, int(rng.integers(1, 10)), month()] for k in keys(4) + [next_key]]
            next_key += 1
            ops.append({"kind": kind, "src": src})
        elif kind == "point":
            ops.append({"kind": kind, "key": int(rng.integers(0, cfg["orders"]))})
        elif kind == "part_agg":
            ops.append({"kind": kind, "month": month()})
        elif kind == "travel":
            ops.append({"kind": kind, "version": int(rng.integers(1, version + 1)),
                        "month": month()})
        else:
            raise ValueError(kind)
        if kind in ("insert", "eqdelete", "merge"):
            version += 1
    return ops


def write_lake(seed, out_dir, cfg=LAKE):
    """Write `lake_rows.parquet` and `lake_ops.json`."""
    t = lake_rows(seed, cfg)
    pq.write_table(t, os.path.join(out_dir, "lake_rows.parquet"))
    with open(os.path.join(out_dir, "lake_ops.json"), "w") as f:
        json.dump(lake_ops(seed, cfg), f)
    return {"rows": t.num_rows, "ops": len(cfg["kinds"])}
