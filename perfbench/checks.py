"""Output checks made apart from the program.

* oracled queries: the query's oracle SQL run by DuckDB over the same parquet
  files, compared value for value after sorting columns and rows, with the
  connection and normal form of the project's tools/check.py;
* the two random-forest queries without an oracle: properties the method must
  have;
* QPE products: the GIF (decoded by the JDK's ImageIO into DN bytes) and the
  ODIM HDF5 grid (read here with zlib alone) against this module's own
  recomputation from the generator's arrays.

Each check returns None when the output is right, else a one-line reason.
"""
import hashlib
import os
import pickle
import sys
import zlib

import duckdb
import numpy as np

import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import check  # noqa: E402

SPILL = os.path.join(ROOT, ".bench_build", "duckdb_spill")


# ---- oracled queries -------------------------------------------------------

def connect(data_dir, threads=4):
    """tools/check.py's connection, spilling inside the checkout."""
    con = check.connect(data_dir, threads)
    con.sql(f"SET temp_directory='{SPILL}'")
    return con


def data_digest(data_dir):
    h = hashlib.sha256()
    for t in check.TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected(con, data_dir, sql, key, cache_dir):
    """DuckDB's result for `sql`, cached on the SQL text and input digest.
    An out-of-memory error is retried once on a fresh single-threaded
    connection, as tools/check.py does."""
    path = os.path.join(cache_dir, hashlib.sha256((key + sql).encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    try:
        df = con.sql(sql).df()
    except duckdb.OutOfMemoryException:
        retry = connect(data_dir, threads=1)
        try:
            df = retry.sql(sql).df()
        finally:
            retry.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def compare(expected_df, actual_df):
    e, a = check.norm(expected_df), check.norm(actual_df)
    if list(e.columns) != list(a.columns):
        return f"columns {list(a.columns)} != {list(e.columns)}"
    if len(e) != len(a):
        return f"rows {len(a)} != {len(e)}"
    for c in e.columns:
        ec, ac = e[c], a[c]
        if ec.dtype.kind == "f" or ac.dtype.kind == "f":
            eq = (ec.isna() & ac.isna()) | (ec == ac)
        else:
            eq = ec.astype(str) == ac.astype(str)
        if not eq.all():
            i = int(np.argmin(eq.to_numpy()))
            return f"column {c}: {int((~eq).sum())} values differ, e.g. {ac.iloc[i]!r} != {ec.iloc[i]!r}"
    return None


def read_result(con, path):
    return con.sql(f"SELECT * FROM '{path}/*.parquet'").df()


# ---- the two random-forest queries ------------------------------------------

def rf_train_predict(df, lineitem_rows):
    """One prediction per input row, none negative after the bias clamp."""
    if int(df["n"].sum()) != lineitem_rows:
        return f"{int(df['n'].sum())} predictions for {lineitem_rows} rows"
    if (df["n_negative"] != 0).any():
        return "negative predictions after the bias-correction clamp"
    if not np.isfinite(df["mean_pred"].to_numpy(float)).all() or (df["mean_pred"] < 0).any():
        return "mean prediction not finite and non-negative"
    return None


def intercomparison(df, sampled_rows):
    """Finite scores of the right sign; at 10 min, one estimate per sampled
    row for each model."""
    if len(df) == 0:
        return "no scores"
    if not np.isfinite(df.select_dtypes("number").to_numpy(float)).all():
        return "non-finite score"
    if ((df["corr"].abs() > 1 + 1e-9) | (df[["stde", "mae", "scatter_db", "ed"]] < 0).any(axis=1)).any():
        return "score out of its range"
    ten = df[df["agg"] == "10min"].groupby("model")["n"].sum()
    if (ten != sampled_rows).any():
        return f"10-min estimates per model {ten.to_dict()} != {sampled_rows} sampled rows"
    return None



# ---- QPE products ----------------------------------------------------------

SNR, MIN_VISIB, MAX_CORR, K, ZMAX, SIGMA, MIN_VALID = 3.0, 37.0, 2.0, 3, 3.0, 0.5, 0.04
SCALE = np.array([0.0, 0.0] + [((10 ** ((i - 71.5) / 20)) / 316) ** (2 / 3) for i in range(2, 251)]
                 + [np.nan] * 5)


def cell_means(lut, vols):
    """Weighted mean of the corrected linear reflectivity per grid cell."""
    n = inputs.NX * inputs.NY
    s_vw, s_w = np.zeros(n), np.zeros(n)
    for radar, v in vols.items():
        sel = lut["sweep"] == inputs.RADARS.index(radar) + 1
        gate = lut["az_idx"][sel] * inputs.N_RNG + lut["rng_idx"][sel]
        cell = lut["chx"][sel] * inputs.NY + lut["chy"][sel]
        ok_gate = (v["zh"] - v["noise"] >= SNR) & (v["visib"] >= MIN_VISIB)
        z = 10 ** (v["zh"] * 0.1) * np.minimum(100.0 / v["visib"], MAX_CORR)
        ok = ok_gate[gate]
        s_vw += np.bincount(cell[ok], (z * v["w"])[gate][ok], n)
        s_w += np.bincount(cell[ok], v["w"][gate][ok], n)
    with np.errstate(invalid="ignore", divide="ignore"):
        g = np.where(s_w > 0, s_vw / s_w, np.nan)
    return g.reshape(inputs.NX, inputs.NY)


def shifted(a, dx, dy, fill):
    out = np.full_like(a, fill)
    nx, ny = a.shape
    out[max(0, -dx):nx - max(0, dx), max(0, -dy):ny - max(0, dy)] = \
        a[max(0, dx):nx - max(0, -dx), max(0, dy):ny - max(0, -dy)]
    return out


def outliers(g):
    """7x7 NaN-aware z-score filter: cells at z >= 3 take the window mean.
    Also returns the cells whose z lies so close to 3 that rounding may decide."""
    valid = ~np.isnan(g)
    v = np.where(valid, g, 0.0)
    s = np.zeros_like(g); s2 = np.zeros_like(g); n = np.zeros_like(g)
    for dx in range(-K, K + 1):
        for dy in range(-K, K + 1):
            s += shifted(v, dx, dy, 0.0)
            s2 += shifted(v * v, dx, dy, 0.0)
            n += shifted(valid.astype(float), dx, dy, 0.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = s / n
        std = np.sqrt(np.maximum(s2 / n - mean * mean, 0.0))
        z = np.abs(g - mean) / std
    hit = valid & (std > 0) & (z >= ZMAX)
    unsure = valid & (std > 0) & (np.abs(z - ZMAX) < 1e-3)
    return np.where(hit, mean, g), unsure


def smooth(g):
    r = max(1, int(np.ceil(3 * SIGMA)))
    kern = np.exp(-0.5 * ((np.arange(-r, r + 1)) / SIGMA) ** 2)
    for axis in (0, 1):
        valid = ~np.isnan(g)
        v = np.where(valid, g, 0.0)
        s = np.zeros_like(g); w = np.zeros_like(g)
        for d, k in zip(range(-r, r + 1), kern):
            dx, dy = (d, 0) if axis == 0 else (0, d)
            s += k * shifted(v, dx, dy, 0.0)
            w += k * shifted(valid.astype(float), dx, dy, 0.0)
        with np.errstate(invalid="ignore", divide="ignore"):
            g = np.where(valid, s / w, np.nan)
    return g


def dilate(mask, r):
    out = mask.copy()
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            out |= shifted(mask, dx, dy, False)
    return out


def product(lut, vols):
    """(grid, unsure): the expected product and the cells an outlier decision
    at z = 3 within rounding could change."""
    g, unsure = outliers(cell_means(lut, vols))
    g = smooth(g)
    g = np.where(~np.isnan(g) & (g < MIN_VALID), 0.0, g)
    return g, dilate(unsure, 2)


def encode_dn(v):
    dn = np.searchsorted(SCALE[2:251], v, side="left") + 2
    dn = np.minimum(dn, 250)
    dn = np.where(v <= SCALE[2], 2, dn)
    dn = np.where(v == 0.0, 0, dn)
    return np.where(np.isnan(v) | (v < 0), 255, dn)


def odim_grid(raw):
    """The float32 grid of an ODIM HDF5 product: its row-band chunks are the
    zlib streams of the file, in row order."""
    band = 64 * inputs.NY * 4
    view = memoryview(raw)
    chunks, pos = [], 0
    while len(chunks) * band < inputs.NX * inputs.NY * 4:
        i = raw.find(b"\x78", pos)
        if i < 0 or i + 1 >= len(raw):
            return None
        pos = i + 1
        if raw[i + 1] not in (0x01, 0x5E, 0x9C, 0xDA):
            continue
        try:
            d = zlib.decompressobj()
            out = d.decompress(view[i:], band + 1)
            if len(out) == band and d.flush() == b"" and d.eof:
                chunks.append(out)
                pos = len(raw) - len(d.unused_data)
        except zlib.error:
            pass
    return np.frombuffer(b"".join(chunks), "<f4").reshape(inputs.NX, inputs.NY).astype(float)


def check_product(expected, unsure, dn, h5, quality):
    """None if the GIF DNs are within one step and the HDF5 grid within its
    0.01 precision of the recomputation, and the quality flag is in the file."""
    care = ~unsure
    # values that sit at the 0.04 validity floor may round to either side
    floor = np.abs(expected - MIN_VALID) < 1e-4 * MIN_VALID
    lo = encode_dn(np.where(floor, 0.0, expected))
    hi = encode_dn(np.where(floor, MIN_VALID * 1.001, expected))
    bad = care & ((dn < np.minimum(lo, hi) - 1) | (dn > np.maximum(lo, hi) + 1))
    if bad.any():
        x, y = np.argwhere(bad)[0]
        return f"GIF: {int(bad.sum())} cells beyond one DN step, e.g. ({x},{y}) {dn[x, y]} vs {lo[x, y]}"
    if quality.encode() not in h5:
        return f"HDF5: quality flag {quality} missing"
    grid = odim_grid(h5)
    if grid is None:
        return "HDF5: data chunks not found"
    nan_bad = care & (np.isnan(grid) != np.isnan(expected))
    tol = 0.0051 + 2e-5 * np.abs(np.nan_to_num(expected))
    diff = np.abs(np.nan_to_num(grid) - np.nan_to_num(expected))
    val_bad = care & ~floor & (diff > tol)
    if nan_bad.any() or val_bad.any():
        x, y = np.argwhere(nan_bad | val_bad)[0]
        return f"HDF5: {int((nan_bad | val_bad).sum())} cells differ, e.g. ({x},{y}) {grid[x, y]} vs {expected[x, y]}"
    return None
