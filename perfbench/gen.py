#!/usr/bin/env python3
"""Seeded input generators for the four benchmark workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --size <n> --out <dir>

The same (workload, seed, size) always writes byte-identical files. Each
generator also writes `manifest.json`: its own bookkeeping (row counts,
planted pairs, lifecycle ranges), which the checkers use as ground truth
and which the engine never reads. The posting-store generator also writes
`params.properties`, the lifecycle ranges the harness passes to the store
calls.

Sizes, per workload:
  landsat_pipeline   scenes (the reference run has 1,298)
  text_dedup         documents
  posting_store      documents
  events_timeseries  events
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 corpus vocabulary: 30 words drawn uniformly (each appears ~9k
# times in sf0.1's 5,000 documents of 8 to ~105 words).
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# The reference run's scene mix (LC08/LT05/LC09/LO08 = 736/492/67/3).
SENSORS = [("LC08", 736, 11), ("LT05", 492, 7), ("LC09", 67, 11), ("LO08", 3, 9)]
PROC_DATE = {"LC08": "20200911", "LT05": "20200831", "LC09": "20230215",
             "LO08": "20200911"}
K_CONST = {"LT05": (607.76, 1260.56), "LC08": (774.8853, 1321.0789),
           "LC09": (799.0284, 1329.2405), "LO08": (774.8853, 1321.0789)}
WRS = ["174038", "175037", "174039", "175038", "173038"]
N_CATALOG = 170
STATION_IDS = 200  # station lists draw from 1..200; 30 ids are not in the catalog

PARQUET_OPTS = dict(compression="snappy", use_dictionary=True,
                    write_statistics=True, row_group_size=1 << 20)


def rng_for(workload, seed):
    # One independent stream per workload, so a seed means the same thing
    # whichever workload is generated first.
    return np.random.default_rng([hash_str(workload), seed % (1 << 63)])


def hash_str(s):
    h = 0
    for ch in s.encode():
        h = (h * 131 + ch) % (1 << 31)
    return h


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def write_props(path, props):
    with open(path, "w") as f:
        for k in sorted(props):
            f.write(f"{k}={props[k]}\n")


# --------------------------------------------------------------- landsat

def split_counts(total, weights):
    """Largest-remainder apportionment of `total` over `weights`."""
    w = np.array(weights, dtype=float)
    raw = total * w / w.sum()
    base = np.floor(raw).astype(int)
    for i in np.argsort(-(raw - base), kind="stable")[: total - base.sum()]:
        base[i] += 1
    return base


def gen_landsat(rng, n_scenes, out):
    counts = split_counts(n_scenes, [c for _, c, _ in SENSORS])
    counts[3] = max(counts[3], 1)  # keep one 9-band scene to drop
    for d in ("scenes", "stations", "metadatas"):
        os.makedirs(os.path.join(out, d), exist_ok=True)

    catalog = np.sort(rng.choice(np.arange(1, STATION_IDS + 1), N_CATALOG,
                                 replace=False))
    with open(os.path.join(out, "stations_catalog.csv"), "w") as f:
        f.write("id,name,longitude,latitude\n")
        for s in catalog:
            lon = round(34.2 + rng.random() * 1.3, 4)
            lat = round(29.5 + rng.random() * 3.8, 4)
            f.write(f"{s},STATION_{s},{lon},{lat}\n")
    in_catalog = set(int(s) for s in catalog)

    day0 = dt.date(2006, 1, 1)
    span = (dt.date(2023, 12, 31) - day0).days
    scenes, seen = [], set()
    for (sensor, _, nb), n in zip(SENSORS, counts):
        for _ in range(n):
            while True:
                d = day0 + dt.timedelta(days=int(rng.integers(0, span + 1)))
                wrs = WRS[int(rng.integers(0, len(WRS)))]
                sid = (f"{sensor}_L1TP_{wrs}_{d:%Y%m%d}_"
                       f"{PROC_DATE[sensor]}_02_T1")
                if sid not in seen:
                    break
            seen.add(sid)
            scenes.append((sid, sensor, nb, d))
    order = rng.permutation(len(scenes))
    scenes = [scenes[i] for i in order]
    # A few scenes ship without MTL metadata (the alignment drops them).
    no_meta = set(int(i) for i in rng.choice(
        len(scenes), max(2, len(scenes) // 200), replace=False))

    # Stations per scene spread evenly over 5..93 and shuffled, and the
    # scenes the pipeline drops get the middle count, so the number of
    # labelled samples (and the work) does not swing with the seed.
    kept = [i for i, (_, _, nb, _) in enumerate(scenes) if nb != 9 and i not in no_meta]
    n_stations = np.full(len(scenes), 49)
    n_stations[kept] = rng.permutation(np.linspace(5, 93, len(kept)).round().astype(int))
    samples = []  # (scene_id, date, station_id) in station-list order
    with open(os.path.join(out, "scenes", "scenes.jsonl"), "w") as fs:
        for i, (sid, sensor, nb, d) in enumerate(scenes):
            thermal_lo = 100 if nb == 7 else 20
            bands = [rng.integers(thermal_lo if b in (5, 9) else 20, 256, 49).tolist()
                     for b in range(nb)]
            fs.write(json.dumps({"scene_id": sid, "bands": bands},
                                separators=(", ", ": ")) + "\n")
            k = int(n_stations[i])
            stations = sorted(int(s) for s in rng.choice(
                np.arange(1, STATION_IDS + 1), k, replace=False))
            with open(os.path.join(out, "stations", f"{sid}_stations.txt"), "w") as f:
                f.write("[" + ", ".join(map(str, stations)) + "]")
            if i not in no_meta:
                write_mtl(rng, os.path.join(out, "metadatas",
                                            f"{sid}_MTL_metadata.json"), sensor, nb, d)
            for s in stations:
                samples.append((sid, nb, i not in no_meta, d, s))

    # Ground truth: per distinct (date, station) key a gap (no row), a
    # sentinel, or a temperature; some keys get a second, later row that
    # first-match must ignore; some rows label keys no scene samples.
    keys = sorted({(d, s) for _, _, _, d, s in samples})
    rows = []
    for d, s in keys:
        r = rng.random()
        if r < 0.10:
            continue
        first = -9999.0 if r < 0.16 else round(float(rng.uniform(-5, 45)), 2)
        rows.append((d, s, first))
        if rng.random() < 0.05:
            rows.append((d, s, round(float(rng.uniform(-5, 45)), 2)))
    for _ in range(len(keys) // 20):
        d = day0 + dt.timedelta(days=int(rng.integers(0, span + 1)))
        rows.append((d, int(rng.integers(1, STATION_IDS + 1)),
                     round(float(rng.uniform(-5, 45)), 2)))
    rows = [rows[i] for i in rng.permutation(len(rows))]
    first_match = {}
    with open(os.path.join(out, "ground_truths.csv"), "w") as f:
        f.write("utc_date,station_id,air_temp\n")
        for d, s, t in rows:
            f.write(f"{d.isoformat()},{s},{t}\n")
            first_match.setdefault((d, s), t)

    labelled = [(sid, s) for sid, nb, meta, d, s in samples
                if nb in (7, 11) and meta and s in in_catalog
                and first_match.get((d, s), -9999.0) != -9999.0]
    n = len(labelled)
    n_train = int(np.floor(0.8 * n))
    write_json(os.path.join(out, "manifest.json"), {
        "workload": "landsat_pipeline",
        "scenes": len(scenes),
        "scene_mix": {sensor: int(c) for (sensor, _, _), c in zip(SENSORS, counts)},
        "scenes_without_mtl": len(no_meta),
        "samples": len(samples),
        "ground_truth_rows": len(rows),
        "labelled": n,
        "expected_train_rows": 4 * n_train,
        "expected_test_rows": n - n_train,
    })


def write_mtl(rng, path, sensor, nb, d):
    resc = {}
    for b in range(1, (7 if nb == 7 else 11) + 1):
        resc[f"RADIANCE_MULT_BAND_{b}"] = f"{rng.uniform(0.05, 1.2):.4E}"
        resc[f"RADIANCE_ADD_BAND_{b}"] = f"{rng.uniform(-0.5, -0.01):.5f}"
    k1, k2 = K_CONST[sensor]
    tb = 6 if nb == 7 else 10
    thermal = {f"K1_CONSTANT_BAND_{tb}": f"{k1 * rng.uniform(0.99, 1.01):.4f}",
               f"K2_CONSTANT_BAND_{tb}": f"{k2 * rng.uniform(0.99, 1.01):.4f}"}
    craft = {"LT05": "LANDSAT_5", "LC08": "LANDSAT_8", "LC09": "LANDSAT_9",
             "LO08": "LANDSAT_8"}[sensor]
    with open(path, "w") as f:
        json.dump({"LANDSAT_METADATA_FILE": {
            "LEVEL1_RADIOMETRIC_RESCALING": resc,
            "LEVEL1_THERMAL_CONSTANTS": thermal,
            "IMAGE_ATTRIBUTES": {"SPACECRAFT_ID": craft,
                                 "DATE_ACQUIRED": d.isoformat()}}}, f, indent=2)
        f.write("\n")


# ------------------------------------------------------------- documents

# Planted shares of the corpus (each planted document is one extra row
# derived from a random original).
EXACT_SHARE = 0.03
NEAR_SHARE = 0.03
EXCERPT_SHARE = 0.02


def gen_corpus(rng, n_docs):
    """(texts, planted) — `planted` maps kind -> [(copy_index, source_index)]."""
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_excerpt = int(n_docs * EXCERPT_SHARE)
    n_orig = n_docs - n_exact - n_near - n_excerpt
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 106, n_orig)
    words = [vocab[rng.integers(0, len(VOCAB), L)] for L in lengths]
    texts = [" ".join(w) for w in words]
    planted = {"exact": [], "near": [], "excerpt": []}
    for _ in range(n_exact):
        src = int(rng.integers(0, n_orig))
        planted["exact"].append((len(texts), src))
        texts.append(texts[src])
    long_docs = np.flatnonzero(lengths >= 40)
    for _ in range(n_near):
        src = int(long_docs[rng.integers(0, len(long_docs))])
        w = words[src].copy()
        for pos in rng.choice(len(w), 1 + int(rng.integers(0, 2)), replace=False):
            w[pos] = vocab[(VOCAB.index(w[pos]) + 1 + int(rng.integers(0, len(VOCAB) - 1)))
                           % len(VOCAB)]
        planted["near"].append((len(texts), src))
        texts.append(" ".join(w))
    longer = np.flatnonzero(lengths >= 60)
    for _ in range(n_excerpt):
        src = int(longer[rng.integers(0, len(longer))])
        L = int(rng.integers(20, 41))
        start = int(rng.integers(0, len(words[src]) - L + 1))
        planted["excerpt"].append((len(texts), src))
        texts.append(" ".join(words[src][start:start + L]))
    # Shuffle so planted rows land at random ids, then renumber.
    perm = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[perm] = np.arange(len(texts))
    texts = [texts[i] for i in perm]
    planted = {k: sorted((int(new_id[c]), int(new_id[s])) for c, s in v)
               for k, v in planted.items()}
    return texts, planted


def documents_table(rng, texts):
    n = len(texts)
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_text_dedup(rng, n_docs, out):
    texts, planted = gen_corpus(rng, n_docs)
    pq.write_table(documents_table(rng, texts),
                   os.path.join(out, "documents.parquet"), **PARQUET_OPTS)
    write_json(os.path.join(out, "manifest.json"), {
        "workload": "text_dedup", "documents": len(texts),
        "planted": {k: [list(p) for p in v] for k, v in planted.items()}})


# Query documents of the store search: the b2 oracle's `doc_id >= 8 AND
# doc_id < 13`, so they are never deleted.
QUERY_IDS = range(8, 13)


def gen_posting_store(rng, n_docs, out):
    texts, _ = gen_corpus(rng, n_docs)
    pq.write_table(documents_table(rng, texts),
                   os.path.join(out, "documents.parquet"), **PARQUET_OPTS)
    # Build on ids >= delta; three appended batches split [0, delta); the
    # second is replayed with its batch id; 1% of ids are then deleted.
    delta = max(30, n_docs // 10)
    cuts = [0, delta // 3, 2 * delta // 3, delta]
    candidates = np.setdiff1d(np.arange(n_docs), np.array(QUERY_IDS))
    deleted = np.sort(rng.choice(candidates, max(3, n_docs // 100), replace=False))
    np.savetxt(os.path.join(out, "deleted_ids.csv"), deleted, fmt="%d",
               header="doc_id", comments="")
    write_json(os.path.join(out, "manifest.json"), {
        "workload": "posting_store", "documents": n_docs,
        "build_from": delta, "batches": [[cuts[i], cuts[i + 1]] for i in range(3)],
        "replayed_batch": 2, "deleted": deleted.tolist(),
        "live_documents": n_docs - len(deleted), "query_ids": list(QUERY_IDS)})
    write_props(os.path.join(out, "params.properties"), {
        "build_from": delta,
        "batches": ",".join(f"{cuts[i]}-{cuts[i + 1]}" for i in range(3)),
        "replayed_batch": 2})


# ---------------------------------------------------------------- events

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def gen_events(rng, n_events, out):
    n_users = max(50, n_events * 3 // 200)  # sf0.1: 1,500 users per 100k events
    t0 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000  # naive UTC micros
    month = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, month, n_events))
    table = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), n_events)].tolist(), pa.string()),
        "value": pa.array(np.round(rng.gamma(2.0, 30.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
                          pa.string()),
    })
    pq.write_table(table, os.path.join(out, "events.parquet"), **PARQUET_OPTS)
    write_json(os.path.join(out, "manifest.json"), {
        "workload": "events_timeseries", "events": n_events, "users": n_users})


GENERATORS = {
    "landsat_pipeline": gen_landsat,
    "text_dedup": gen_text_dedup,
    "posting_store": gen_posting_store,
    "events_timeseries": gen_events,
}


def generate(workload, seed, size, out):
    out = os.path.abspath(out)
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](rng_for(workload, seed), size, out)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.size, a.out)


if __name__ == "__main__":
    main()
