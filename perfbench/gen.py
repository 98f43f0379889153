"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical files, another seed writes different ones. Each returns a
"truth" dict, the facts the benchmark checks the library's outputs
against.

- pack_tables: the ten star-schema + events/documents/embeddings tables
  that `graft.SparkEntry.queries` reads, as parquet, with the value
  distributions of the driver's synthetic testdata; 5% of the documents
  are near-duplicates (an earlier document plus " dup").
- nilm_trees: a UK-DALE per-channel `.dat` tree and a REFIT wide-CSV
  tree, each with its metadata JSON.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed, stream):
    # independent, reproducible stream per (seed, table)
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- pack

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
             "join key line merge order part query row scan slow small "
             "sort spark stream table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ordering_customers(k):
    """Map 0..2n/3 onto the customer keys not divisible by 3."""
    return (3 * (k // 2) + 1 + k % 2).astype(np.int64)


def pack_tables(out, seed, sf):
    """Write the query pack's tables at scale factor `sf` under `out`."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), max(int(10000 * sf), 10)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_user = int(50000 * sf), int(50000 * sf), int(15000 * sf)
    sizes = {}

    def put(name, cols):
        t = pa.table(cols)
        sizes[name] = t.num_rows
        _write(t, os.path.join(out, name + ".parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})
    r = _rng(seed, 1)
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": r.choice(SEGMENTS, n_cust)})
    r = _rng(seed, 2)
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})
    r = _rng(seed, 3)
    keys = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(r.choice(PART_ADJ, n_part), " "),
                              r.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    r = _rng(seed, 4)
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        # as in TPC-H, a third of the customers (keys divisible by 3)
        # place no orders, so the anti-join has rows to return
        "o_custkey": _ordering_customers(r.integers(0, 2 * n_cust // 3, n_ord)),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(PRIORITIES, n_ord)})
    r = _rng(seed, 5)
    put("lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04")})
    r = _rng(seed, 6)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(r.integers(t0, t0 + span_us, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": r.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    r = _rng(seed, 7)
    texts, rep = [], []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:  # near-dup of an earlier doc
            parent = int(r.integers(0, i))
            texts.append(texts[parent] + " dup")
            rep.append(rep[parent])  # the family's first, smallest id
        else:
            texts.append(" ".join(r.choice(DOC_WORDS, int(r.integers(10, 100)))))
            rep.append(i)
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, n_doc, p=LANG_P),
        "source": np.char.add("src", r.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    r = _rng(seed, 8)
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)})
    return {"rows": sizes, "doc_rep": dict(enumerate(rep))}


# ---------------------------------------------------------------- nilm

RESAMPLE_S = 30
SEQ_LEN, STEP = 512, 256
# (raw label, acquisition device, cadence s) per UK-DALE channel 1..5
UKDALE_CHANNELS = [("aggregate", "EcoManagerWholeHouseTx", 6),
                   ("kettle", "EcoManagerTxPlug", 6),
                   ("fridge", "EcoManagerTxPlug", 3),
                   ("washing machine", "EcoManagerTxPlug", 2),
                   ("dishwasher", "EcoManagerTxPlug", 6)]
REFIT_APPLIANCES = ["Fridge", "Washing Machine", "Dishwasher", "Kettle"]
REFIT_CADENCE = 8
NILM_T0 = 1_704_067_200  # 2024-01-01T00:00:00Z, a multiple of RESAMPLE_S


def _cadence_ts(rng, start, hours, cadence, drop=0.02):
    """Regular timestamps with ~`drop` of them missing (never the first
    three), so the median positive delta stays the cadence."""
    ts = start + np.arange(0, hours * 3600, cadence, dtype=np.int64)
    keep = rng.random(len(ts)) >= drop
    keep[:3] = True
    return ts[keep]


def _windows(bucket_sets):
    n = len(set().union(*bucket_sets))
    return (n - SEQ_LEN) // STEP + 1 if n >= SEQ_LEN else 0


def nilm_trees(out, seed, houses, hours):
    """Write `ukdale/` and `refit/` raw trees under `out`: `houses`
    houses per source, `hours` of readings per house."""
    r = _rng(seed, 20)
    readings, rates, windows = 0, {}, {}
    uk = os.path.join(out, "ukdale")
    os.makedirs(os.path.join(uk, "metadata"), exist_ok=True)
    meta = {}
    for h in range(1, houses + 1):
        hdir = os.path.join(uk, f"house_{h}")
        os.makedirs(hdir, exist_ok=True)
        start = NILM_T0 + int(r.integers(0, 48)) * RESAMPLE_S
        buckets = []
        entries = []
        for c, (label, device, cadence) in enumerate(UKDALE_CHANNELS, 1):
            ts = _cadence_ts(r, start, hours, cadence)
            power = np.round(r.gamma(2.0, 60.0 if c == 1 else 20.0, len(ts)), 1)
            with open(os.path.join(hdir, f"channel_{c}.dat"), "w") as f:
                f.write("\n".join(f"{t} {p}" for t, p in zip(ts.tolist(),
                                                               power.tolist())))
                f.write("\n")
            readings += len(ts)
            rates[f"ukdale/{h}/channel_{c}"] = cadence
            buckets.append(set((ts // RESAMPLE_S).tolist()))
            entries.append({"channel": c, "appliance_raw_label": label,
                            "manufacturer": f"M{c}", "model": f"X{seed % 97}",
                            "acquisition_device": device})
        # a button-press log the loader must skip (UKDALELoader.py:64-65)
        with open(os.path.join(hdir, "channel_99_button_press.dat"), "w") as f:
            f.write(f"{start} 1\n{start + 60} 0\n")
        meta[f"House {h}"] = entries
        windows[f"ukdale/{h}"] = _windows(buckets)
    with open(os.path.join(uk, "metadata", "ukdale_combined_metadata.json"),
              "w") as f:
        json.dump(meta, f, sort_keys=True)

    rf = os.path.join(out, "refit")
    os.makedirs(rf, exist_ok=True)
    meta = {}
    cols = ["Aggregate"] + [f"Appliance{i}" for i in
                            range(1, len(REFIT_APPLIANCES) + 1)]
    for h in range(1, houses + 1):
        start = NILM_T0 + int(r.integers(0, 48)) * RESAMPLE_S
        ts = _cadence_ts(r, start, hours, REFIT_CADENCE)
        vals = np.round(r.gamma(2.0, 30.0, (len(ts), len(cols))))
        vals[:, 0] = vals[:, 1:].sum(axis=1) + 50
        issues = (r.random(len(ts)) < 0.01).astype(int)
        times = ts.astype("datetime64[s]").astype(str)
        lines = ["Unix,Time,Issues," + ",".join(cols)]
        lines += [f"{t},{tm},{i}," + ",".join(f"{v:.0f}" for v in row)
                  for t, tm, i, row in zip(ts.tolist(), times, issues.tolist(),
                                           vals.tolist())]
        with open(os.path.join(rf, f"CLEAN_House{h}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")
        readings += len(ts) * len(cols)
        for c in range(1, len(cols) + 1):
            rates[f"refit/{h}/channel_{c}"] = REFIT_CADENCE
        # the last appliance has no metadata entry: its raw label falls
        # back to the column name (REFITLoader.py:75)
        meta[f"House {h}"] = [
            {"channel": c + 2, "appliance_raw_label": lab,
             "manufacturer": "", "model": ""}
            for c, lab in enumerate(REFIT_APPLIANCES[:-1])]
        windows[f"refit/{h}"] = _windows([set((ts // RESAMPLE_S).tolist())])
    with open(os.path.join(rf, "refit_appliance_metadata.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    # every channel of a house maps to its own universal label (REFIT's
    # unlabelled last appliance to "other"), so commonChannels keeps one
    # row per channel
    common_rows = houses * (len(UKDALE_CHANNELS) + len(cols))
    return {"readings": readings, "rates": rates, "windows": windows,
            "common_rows": common_rows}
