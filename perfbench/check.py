#!/usr/bin/env python3
"""Correctness checks for the benchmark's workloads.

Each checker reads what the harness wrote after its timed region and
compares it with a computation made apart from the engine (the
generator's bookkeeping, a recomputation from the generated files, or
the query's DuckDB oracle) or with a property the method must have. It
returns a list of problems; an empty list means the output is correct.
The checkers take plain Python values, so the tests can hand them
deliberately corrupted results.
"""
import datetime
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

FEATURE_WIDTH = 365
PX = 49
THERMAL_POS = 5  # thermal band's slot in the 7-band layout
REL_TOL = 1e-9


def read_rows(path):
    """Rows of a parquet file or directory, as dicts."""
    return pq.read_table(path).to_pylist()


# --------------------------------------------------------------- landsat

def check_landsat_counts(counts, manifest):
    """`counts`: rows of (is_train, aug_k, rows, min_width, max_width)."""
    problems = []
    train = sum(r["rows"] for r in counts if r["is_train"] == 1)
    test = sum(r["rows"] for r in counts if r["is_train"] == 0)
    if train != manifest["expected_train_rows"]:
        problems.append(f"train rows {train}, expected 4*floor(0.8N) = "
                        f"{manifest['expected_train_rows']} (N = {manifest['labelled']})")
    if test != manifest["expected_test_rows"]:
        problems.append(f"test rows {test}, expected N - floor(0.8N) = "
                        f"{manifest['expected_test_rows']}")
    for r in counts:
        if (r["min_width"], r["max_width"]) != (FEATURE_WIDTH, FEATURE_WIDTH):
            problems.append(f"feature widths {r['min_width']}..{r['max_width']} in "
                            f"is_train={r['is_train']} aug_k={r['aug_k']}, want {FEATURE_WIDTH}")
    return problems


def scene_inputs(fixtures, scene_ids):
    """Generated DN tensors and MTL coefficients of the given scenes."""
    want, out = set(scene_ids), {}
    with open(os.path.join(fixtures, "scenes", "scenes.jsonl")) as f:
        for line in f:
            s = json.loads(line)
            if s["scene_id"] in want:
                mtl_path = os.path.join(fixtures, "metadatas",
                                        f"{s['scene_id']}_MTL_metadata.json")
                with open(mtl_path) as m:
                    mtl = json.load(m)["LANDSAT_METADATA_FILE"]
                out[s["scene_id"]] = (s["bands"], mtl)
    return out


def expected_thermal(bands, mtl):
    """Brightness temperature of the thermal band's 49 pixels, computed here
    from the DN and MTL values: L = DN*mult + add, then K2/ln(K1/L + 1) for
    Landsat 5 and K2/(K1/(L + 1)) for Landsat 8/9."""
    l5 = len(bands) == 7
    band = 6 if l5 else 10
    resc = mtl["LEVEL1_RADIOMETRIC_RESCALING"]
    mult = float(resc[f"RADIANCE_MULT_BAND_{band}"])
    add = float(resc[f"RADIANCE_ADD_BAND_{band}"])
    k = mtl["LEVEL1_THERMAL_CONSTANTS"]
    k1 = float(k[f"K1_CONSTANT_BAND_{band}"])
    k2 = float(k[f"K2_CONSTANT_BAND_{band}"])
    out = []
    for dn in bands[band - 1]:
        rad = float(dn) * mult + add
        out.append(k2 / math.log(k1 / rad + 1.0) if l5 else k2 / (k1 / (rad + 1.0)))
    return out


def close(a, b):
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1.0)


def check_landsat_sample(sample, inputs):
    """`sample`: output rows with features and (rotated) bands7;
    `inputs`: scene_id -> (DN bands, MTL) from the generated files."""
    problems = []
    if not sample:
        return ["no sampled rows"]
    for r in sample:
        where = f"{r['scene_id']}/{r['station_id']}/aug{r['aug_k']}"
        f = r["features"]
        if len(f) != FEATURE_WIDTH:
            problems.append(f"{where}: feature width {len(f)}")
            continue
        bands, mtl = inputs[r["scene_id"]]
        got = f[THERMAL_POS * PX:(THERMAL_POS + 1) * PX]
        want = expected_thermal(bands, mtl)
        if not all(close(g, w) for g, w in zip(got, want)):
            problems.append(f"{where}: thermal feature differs from the recomputed "
                            f"brightness temperature")
        # An augmented window is a rotation: each band keeps its multiset
        # of pixel values (the features hold the unrotated window).
        for b, window in enumerate(r["bands7"]):
            if sorted(window) != sorted(f[b * PX:(b + 1) * PX]):
                problems.append(f"{where}: band {b} window lost its pixel multiset")
                break
    return problems


def landsat_outputs(path):
    """Per-(is_train, aug_k) row counts and feature widths of the full
    train/test output, and one sample in 16 (by the split's own key, so a
    sampled row comes with all its augmented copies) as dicts."""
    import pyarrow.compute as pc
    t = pq.read_table(path, columns=["scene_id", "station_id", "sample_key", "is_train",
                                     "aug_k", "features", "bands7"])
    widths = pc.list_value_length(t.column("features"))
    counts = (t.select(["is_train", "aug_k"]).append_column("w", widths)
              .group_by(["is_train", "aug_k"])
              .aggregate([("w", "count"), ("w", "min"), ("w", "max")]).to_pylist())
    counts = [{"is_train": r["is_train"], "aug_k": r["aug_k"], "rows": r["w_count"],
               "min_width": r["w_min"], "max_width": r["w_max"]} for r in counts]
    picked = pc.equal(pc.bit_wise_and(t.column("sample_key"), 15), 0)
    return counts, t.filter(picked).to_pylist()


def check_landsat(data, out):
    counts, sample = landsat_outputs(os.path.join(out, "train_test"))
    return (check_landsat_counts(counts, load_manifest(data)) +
            check_landsat_sample(sample, scene_inputs(data, {r["scene_id"] for r in sample})))


# ------------------------------------------------------------- documents

def check_clusters(clusters, texts):
    """`clusters`: d8 rows (doc_id, keep_id); `texts`: doc_id -> text.
    Documents absent from the output are singletons."""
    problems = []
    label = {}
    for r in clusters:
        d, k = r["doc_id"], r["keep_id"]
        if d in label:
            problems.append(f"doc {d} is in two clusters")
        label[d] = k
        if d not in texts or k not in texts:
            problems.append(f"row ({d}, {k}) names a document not in the corpus")
    # A partition: every cluster's label is one of its members, itself
    # labelled by it, and no member has a smaller id.
    for d, k in label.items():
        if label.get(k, k) != k:
            problems.append(f"doc {d} keeps {k}, which itself keeps {label[k]}")
        if k > d:
            problems.append(f"doc {d} keeps {k}, not its cluster's smallest id")
    # Identical texts share every MinHash band, so they must share a cluster.
    first = {}
    for d in sorted(texts):
        t = texts[d]
        if t in first and label.get(d, d) != label.get(first[t], first[t]):
            problems.append(f"identical docs {first[t]} and {d} are in different clusters")
        first.setdefault(t, d)
    return problems


def check_c13(rows, n_docs):
    """c13 decides the arrivals (doc_id < 50) once each; a doc lands
    exactly when it has no keeper."""
    problems = []
    ids = sorted(r["doc_id"] for r in rows)
    if ids != list(range(min(50, n_docs))):
        problems.append(f"c13 decided {len(ids)} arrivals, not each of ids 0..49 once")
    for r in rows:
        if r["landed"] != (r["keeper_id"] is None):
            problems.append(f"c13 doc {r['doc_id']}: landed={r['landed']} "
                            f"with keeper {r['keeper_id']}")
    return problems


def corpus_texts(data):
    t = pq.read_table(os.path.join(data, "documents.parquet"), columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def check_text_dedup(data, out):
    texts = corpus_texts(data)
    return (check_clusters(read_rows(os.path.join(out, "d8_dup_clusters")), texts) +
            check_c13(read_rows(os.path.join(out, "c13_containment_unified")), len(texts)))


def d2_metrics(data, pairs_dir):
    """queries.d2_pairs and the share of them the generator planted."""
    planted = set()
    for kind in load_manifest(data)["planted"].values():
        planted.update((min(a, b), max(a, b)) for a, b in kind)
    pairs = [(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
             for r in read_rows(pairs_dir)]
    hits = sum(1 for p in pairs if p in planted)
    return {"queries.d2_pairs": float(len(pairs)),
            "queries.d2_true_pair_share": hits / len(pairs) if pairs else 0.0}


# ---------------------------------------------------------------- oracles

def canon(rows):
    """Rows (dicts) as a sorted list of tuples over sorted column names,
    floats rounded to 9 places and timestamps made naive UTC."""
    out = []
    for r in rows:
        t = []
        for k in sorted(r):
            v = r[k]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            elif isinstance(v, datetime.datetime) and v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            t.append((k, v))
        out.append(tuple(t))
    out.sort(key=lambda t: tuple((x is None, str(x)) for _, x in t))
    return out


def compare(name, got, want):
    g, w = canon(got), canon(want)
    if g == w:
        return []
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows, oracle has {len(w)}"]
    for a, b in zip(g, w):
        if a != b:
            return [f"{name}: first differing row {a} vs oracle {b}"]
    return [f"{name}: differs from its oracle"]


def oracle_rows(sql, views):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name, source in views.items():
        con.execute(f"CREATE VIEW {name} AS {source}")
    rel = con.sql(sql)
    cols = rel.columns
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def engine_rows(path):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = rel.columns
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def live_documents_sql(data, deleted):
    ids = ", ".join(str(i) for i in deleted) or "NULL"
    return (f"SELECT * FROM read_parquet('{data}/documents.parquet') "
            f"WHERE doc_id NOT IN ({ids})")


def live_corpus(data, manifest):
    deleted = set(manifest["deleted"])
    return {d: t for d, t in corpus_texts(data).items() if d not in deleted}


def check_store_counts(counts, live):
    """`counts`: the store's document and posting totals after the
    lifecycle; `live`: doc_id -> text of the build set plus the appended
    batches minus the deleted ids, from the generator's files. A posting
    is one (doc, term) pair with its term frequency."""
    problems = []
    n = len(live)
    if counts["doc_stats_rows"] != n:
        problems.append(f"store holds {counts['doc_stats_rows']} documents, the live corpus "
                        f"has {n} (did the replayed batch add rows?)")
    if counts["corpus_n_docs"] != n:
        problems.append(f"corpus stats count {counts['corpus_n_docs']} documents, want {n}")
    tokens = [t.lower().split() for t in live.values()]
    want_rows = sum(len(set(ws)) for ws in tokens)
    want_tf = sum(len(ws) for ws in tokens)
    if (counts["posting_rows"], counts["posting_tf"]) != (want_rows, want_tf):
        problems.append(f"store has {counts['posting_rows']} postings with tf sum "
                        f"{counts['posting_tf']}, the live corpus has {want_rows} and {want_tf}")
    return problems


def check_posting_store(data, out):
    manifest = load_manifest(data)
    oracles = load_oracles(out)
    want = oracle_rows(oracles["b2_bm25_store"],
                       {"documents": live_documents_sql(data, manifest["deleted"])})
    return (compare("bm25FromStore", engine_rows(os.path.join(out, "search")), want) +
            check_store_counts(read_rows(os.path.join(out, "store_counts"))[0],
                               live_corpus(data, manifest)))


EVENT_QUERIES = ["aj1_asof_join", "ts9_ewma_auto", "ts10_cusum_auto", "e15_stream_ewma"]


def check_against_oracles(data, out, table, queries):
    """Compares each query's results with its oracle SQL run in DuckDB
    over the generated `table`."""
    oracles = load_oracles(out)
    views = {table: f"SELECT * FROM read_parquet('{data}/{table}.parquet')"}
    problems = []
    for q in queries:
        problems += compare(q, engine_rows(os.path.join(out, q)),
                            oracle_rows(oracles[q], views))
    return problems


def check_events(data, out):
    return check_against_oracles(data, out, "events", EVENT_QUERIES)


def check_text_dedup_oracles(data, out):
    """d8 and c13 against their oracles; minutes at benchmark scale, so
    only oracle_check.py runs it, on a reduced corpus."""
    return check_against_oracles(data, out, "documents",
                                 ["d8_dup_clusters", "c13_containment_unified"])


# ------------------------------------------------------------------ glue

def load_manifest(data):
    with open(os.path.join(data, "manifest.json")) as f:
        return json.load(f)


def load_oracles(out):
    with open(os.path.join(out, "oracles.json")) as f:
        return json.load(f)


CHECKERS = {
    "landsat_pipeline": check_landsat,
    "text_dedup": check_text_dedup,
    "posting_store": check_posting_store,
    "events_timeseries": check_events,
}


def check_workload(workload, data, out):
    try:
        return CHECKERS[workload](data, out)
    except (OSError, KeyError, ValueError, duckdb.Error) as e:
        return [f"outputs could not be checked: {e!r}"]
