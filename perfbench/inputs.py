"""Inputs: the ten analytics tables and the seeded synthetic radar network.

The tables follow the shape of the project's TPC-H-like test corpus at scale
factor 0.01 (same schemas, row counts, key ranges and value distributions).
They are drawn from a fixed seed, so every run queries the same data; the
benchmark's seed orders the queries. The radar inputs are five polar volumes
per 5-minute slot plus the polar-to-Cartesian lookup table for the 640x710
Swiss grid; the seed draws their rain fields.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table, as in the corpus at scale factor 0.01
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)
TABLE_SEED = 101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
DAY_US = 86400 * 1_000_000


def _ts(day0, days, rng, n):
    """Whole-day timestamps (µs) uniform over `days` days from `day0`."""
    base = np.datetime64(day0, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * DAY_US, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(seed=TABLE_SEED):
    """{name: pyarrow.Table}, drawn from `seed`."""
    n = SIZES
    rng = np.random.default_rng([seed, 1])
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                              "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                              "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                              "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -1000, 10000, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -1000, 10000, s)})
    p = n["part"]
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, p), rng.integers(0, 8, p))]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts("1995-01-01", 2405, rng, o),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _ts("1995-01-02", 2499, rng, li)})
    e = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_US, e)) + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, e * 3 // 200), e), i64),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    d = n["documents"]
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, d)]
    # one document in twenty is a near-duplicate of a distinct earlier one
    dups = set(rng.choice(np.arange(1, d), d // 20, replace=False).tolist())
    originals = [j for j in rng.permutation(d).tolist() if j not in dups]
    for i in sorted(dups):
        j = next((j for j in originals if j < i), None)
        if j is not None:
            originals.remove(j)
            texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = 0.147 * centers[labels] + rng.normal(size=(m, 64)) / 8
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write_tables(out_dir, seed=TABLE_SEED):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---- radar network ---------------------------------------------------------

NX, NY = 640, 710
RADARS = "ADLPW"
# site (chx, chy) of each radar on the grid; each covers a disc of RANGE cells
SITES = {"A": (330, 430), "D": (150, 180), "L": (470, 200), "P": (200, 470),
         "W": (500, 600)}
RANGE = 110  # cells
GATE = 2  # cells per range gate
N_RNG = RANGE // GATE
AZ_STEP = 2  # degrees per azimuth bin
N_AZ = 360 // AZ_STEP
FIELDS = 10  # distinct rain fields; slot k carries field k % FIELDS


def lut():
    """Cartesian cell -> polar gate of the radar covering it, one sweep per
    radar; the sweep id (1..5) names the radar, so one table serves all."""
    cols = {k: [] for k in ("sweep", "az_idx", "rng_idx", "chx", "chy")}
    gx, gy = np.meshgrid(np.arange(NX), np.arange(NY), indexing="ij")
    for i, r in enumerate(RADARS):
        sx, sy = SITES[r]
        dx, dy = gx + 0.5 - sx, gy + 0.5 - sy
        dist = np.hypot(dx, dy)
        inside = dist < RANGE
        az = (np.degrees(np.arctan2(dy, dx)) % 360 // AZ_STEP).astype(np.int32) % N_AZ
        cols["sweep"].append(np.full(inside.sum(), i + 1, np.int32))
        cols["az_idx"].append(az[inside])
        cols["rng_idx"].append((dist[inside] // GATE).astype(np.int32))
        cols["chx"].append(gx[inside].astype(np.int32))
        cols["chy"].append(gy[inside].astype(np.int32))
    return {k: np.concatenate(v) for k, v in cols.items()}


def volume(seed, field, radar):
    """One radar's polar gates for one rain field: columns sweep, az_idx,
    rng_idx, zh (dBZ), noise (dBZ), visib (%), w."""
    rng = np.random.default_rng([seed, 3, field, RADARS.index(radar)])
    storms = np.random.default_rng([seed, 4])
    az, rg = np.meshgrid(np.arange(N_AZ), np.arange(N_RNG), indexing="ij")
    sx, sy = SITES[radar]
    th = np.radians((az + 0.5) * AZ_STEP)
    x = sx + (rg + 0.5) * GATE * np.cos(th)
    y = sy + (rg + 0.5) * GATE * np.sin(th)
    # rain cells drifting across the grid: many small cores, one in each
    # cell of an 8 x 6 partition of the grid, so that rain coverage, and with
    # it the product size, is about the same for every seed
    zh = np.full(x.shape, 2.0)
    for i in range(48):
        cx = (i % 8 + storms.uniform()) * NX / 8
        cy = (i // 8 + storms.uniform()) * NY / 6
        vx, vy = storms.normal(0, 6, 2)
        amp, width = storms.uniform(15, 36), storms.uniform(10, 30)
        cx, cy = cx + vx * field, cy + vy * field
        zh += amp * np.exp(-((x - cx) ** 2 + (y - cy) ** 2) / (2 * width ** 2))
    zh += rng.normal(0, 1.5, zh.shape)
    # ground clutter: isolated hot gates the outlier filter has to remove
    clutter = rng.random(zh.shape) < 0.002
    zh[clutter] += 25
    noise = -4 + 0.04 * rg * GATE + rng.normal(0, 1, zh.shape)
    visib = np.full(zh.shape, 100.0)
    sector = 20 * RADARS.index(radar)
    blocked = (az >= sector) & (az < sector + 12)
    visib[blocked] = rng.uniform(20, 90, blocked.sum())
    w = 1.0 / (1.0 + rg * GATE / 50.0)
    return {"sweep": np.full(zh.size, RADARS.index(radar) + 1, np.int32),
            "az_idx": az.ravel().astype(np.int32), "rng_idx": rg.ravel().astype(np.int32),
            "zh": np.round(zh.ravel(), 3), "noise": np.round(noise.ravel(), 3),
            "visib": np.round(visib.ravel(), 2), "w": w.ravel()}


def write_radar(seed, out_dir):
    """lut.parquet plus field=<f>/<radar>.parquet for every field and radar."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(lut()), os.path.join(out_dir, "lut.parquet"))
    for f in range(FIELDS):
        d = os.path.join(out_dir, f"field={f}")
        os.makedirs(d, exist_ok=True)
        for r in RADARS:
            pq.write_table(pa.table(volume(seed, f, r)), os.path.join(d, f"{r}.parquet"))
