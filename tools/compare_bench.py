#!/usr/bin/env python3
"""Per-query Spark-vs-DuckDB comparison: times every oracleSql query in
DuckDB (same parquet inputs, same machine) and joins against a Bench JSON
line. Usage: compare_bench.py <sfDir> <oracle_sql.json> <bench.json>
[--md PERF.md] [--prev BENCH_prev.json].

DuckDB here is the single-node speed-of-light reference (vectorized,
in-process, no scheduler); the Spark numbers carry per-query job/stage
scheduling overhead that amortizes away at cluster scale. The comparison
is still the honest throughput yardstick the baseline asks for.

Noise discipline (r15 lesson: two runs of IDENTICAL code skewed ~25%
globally): Bench emits "noise_floor" — the median per-query pass spread
of the sweep itself. With --prev, per-query deltas are flagged as
regressions ONLY when they clear max(40%, 2x the floor) relative AND
0.3 s absolute; a flag counts as real only if it repeats in two
consecutive rounds. When both sweeps carry Bench's `task_time` map, each
query's task-time ratio vs --prev prints next to its wall ratio.
"""
import json, os, statistics, sys, time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Fixed host-speed probes (engine-independent SQL over the same parquet):
# their total is this host+round's DuckDB speed yardstick. Recorded into
# the bench JSON and the PERF.md header so round-over-round AGGREGATE
# ratios can be normalized for host weather instead of caveated (the
# r16->r17 0.39x->0.50x swing was a contended DuckDB sweep, not an engine
# change). Never change these queries: the normalization is only valid
# against an identical probe set.
CALIBRATION = {
    "cal_scan_agg": "SELECT count(*) AS n, sum(l_quantity) AS s FROM lineitem",
    "cal_group": "SELECT l_returnflag, count(*) AS n, "
                 "round(avg(l_extendedprice), 3) AS a FROM lineitem "
                 "GROUP BY 1 ORDER BY 1",
    "cal_text": "SELECT count(*) AS n, sum(len(text)) AS s FROM documents",
}


def calibrate(con):
    out = {}
    for name, sql in CALIBRATION.items():
        ts = []
        for _ in range(5):
            t0 = time.time()
            con.sql(sql).fetchall()
            ts.append(time.time() - t0)
        out[name] = round(statistics.median(ts), 4)
    out["total"] = round(sum(out.values()), 4)
    return out


def _burn(_):
    t0 = time.time()
    x = 0
    for i in range(30_000_000):
        x += i * i
    return time.time() - t0


def _noop(_):
    return None


def parallelism_probe():
    """Effective-core probe: the DuckDB probes above measure single-thread
    host speed, but a virtualized box can deliver full single-thread speed
    while starving WIDE parallel stages (r19: 32-way burn achieved ~20
    effective cores on an idle VM — every shuffle/iteration-heavy Spark
    query inflated 1.5-2x while scan-light queries and the DuckDB probes
    moved ~6%). Recording both axes makes that weather attributable
    instead of a mystery regression."""
    import multiprocessing as mp
    n = os.cpu_count() or 1
    _burn(0)  # warmup pass, matching the Scala probe's discipline
    solo = _burn(0)
    with mp.Pool(n) as p:
        # Warm the pool OUTSIDE the measured wall: Pool() creation forks n
        # processes (import cost on spawn platforms), and timing that spawn
        # systematically deflates effective_cores — probe bias that would
        # masquerade as host weather in round-over-round flag adjudication.
        p.map(_noop, range(n))
        t0 = time.time()
        p.map(_burn, range(n))
        wall = time.time() - t0
    return {"procs": n, "solo_s": round(solo, 3), "wall_s": round(wall, 3),
            "effective_cores": round(n * solo / wall, 1)}


def main(sf_dir, oracle_path, bench_path, md_path=None, prev_path=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(oracle_path))
    bench = json.load(open(bench_path))
    # Host-speed calibration: run first (cold caches hit the probes, not a
    # query), record into the bench JSON so the round artifact carries it.
    cal = calibrate(con)
    bench["duckdb_calibration"] = cal
    par = parallelism_probe()
    bench["parallelism_probe"] = par
    # Atomic replace: the bench JSON is a round evidence artifact — a crash
    # mid-write must not corrupt it (write to a temp sibling, then rename).
    tmp_path = bench_path + ".tmp"
    with open(tmp_path, "w") as f:
        f.write(json.dumps(bench))
    os.replace(tmp_path, bench_path)
    print(f"duckdb_calibration total {cal['total']:.4f} s "
          + " ".join(f"{k}={cal[k]:.4f}" for k in CALIBRATION))
    print(f"parallelism_probe: {par['effective_cores']} effective cores "
          f"of {par['procs']} (solo {par['solo_s']} s, "
          f"{par['procs']}-way wall {par['wall_s']} s)")
    spark_times = bench.get("queries", {})
    noise_floor = bench.get("noise_floor")
    prev_bench = json.load(open(prev_path)) if prev_path else {}
    # Per-query task time (summed task durations) moves far less with host
    # load than wall time; when both sweeps carry it, its ratio vs --prev
    # prints next to the wall ratio.
    task_now = bench.get("task_time")
    task_prev = prev_bench.get("task_time")

    def task_ratio(name):
        if not (task_now and task_prev):
            return None
        cur, old = task_now.get(name), task_prev.get(name)
        return cur / old if cur is not None and old else None

    rows = []
    for name, sql in sorted(oracle.items()):
        times = []
        try:
            # Median of 3 for fast oracles; a single run once the first
            # pass shows the query is heavy (>2 s) — at that size run-to-run
            # variance is small relative to the time and 3x runs would make
            # the full sweep take tens of minutes (c2/c4-class rewrites).
            for _ in range(3):
                t0 = time.time()
                con.sql(sql).fetchall()
                times.append(time.time() - t0)
                if times[0] > 2.0:
                    break
            duck = statistics.median(times)
        except Exception as e:
            duck = None
        spark = spark_times.get(name)
        ratio = (spark / duck) if spark and duck and duck > 0 else None
        rows.append((name, spark, duck, ratio))
        d = f"{duck:.3f}" if duck is not None else "n/a"
        s = f"{spark:.3f}" if spark is not None else "n/a"
        r = f"{ratio:.2f}x" if ratio is not None else "-"
        vs_prev = ""
        if task_now and task_prev:
            old, tr = prev_bench.get("queries", {}).get(name), task_ratio(name)
            w = f"{spark / old:.2f}x" if spark is not None and old else "-"
            t = f"{tr:.2f}x" if tr is not None else "-"
            vs_prev = f"  vs prev wall {w} task {t}"
        print(f"{name:28s} spark {s:>8s}  duckdb {d:>8s}  ratio {r}{vs_prev}")
    ok = [r for r in rows if r[3] is not None]
    tot_s = sum(r[1] for r in ok)
    tot_d = sum(r[2] for r in ok) or 1e-9  # degenerate oracle subsets
    print(f"{'TOTAL(comparable)':28s} spark {tot_s:8.3f}  duckdb {tot_d:8.3f}  "
          f"ratio {tot_s / tot_d:.2f}x  (n={len(ok)})")
    # Normalized aggregate: scale the DuckDB total by the calibration
    # factor vs the previous round's probes (same SQL, same parquet), so
    # the round-over-round aggregate compares engine work, not host
    # weather. normalized = raw_ratio * (cal_now / cal_prev).
    norm_note = None
    if prev_path:
        prev_cal = prev_bench.get("duckdb_calibration")
        if prev_cal and prev_cal.get("total"):
            factor = cal["total"] / prev_cal["total"]
            norm = (tot_s / tot_d) * factor
            norm_note = (f"duckdb calibration factor vs prev round: "
                         f"{factor:.3f} (probes {prev_cal['total']:.3f} s -> "
                         f"{cal['total']:.3f} s); host-normalized aggregate "
                         f"ratio: {norm:.2f}x (raw {tot_s / tot_d:.2f}x)")
        else:
            norm_note = (f"prev bench carries no duckdb_calibration; this "
                         f"round's probe total {cal['total']:.3f} s becomes "
                         "the first normalization baseline")
        print(norm_note)
    if noise_floor is not None:
        print(f"noise_floor (median pass spread of this sweep): "
              f"{noise_floor * 100:.1f}%")
    regressions = []
    if prev_path:
        prev = prev_bench.get("queries", {})
        thr = max(0.40, 2 * (noise_floor or 0.0))
        for name, cur in sorted(spark_times.items()):
            old = prev.get(name)
            if old and cur > old * (1 + thr) and cur - old > 0.3:
                regressions.append((name, old, cur))
        if regressions:
            print(f"REGRESSION CANDIDATES (> {thr * 100:.0f}% rel and "
                  f"> 0.3 s abs vs {prev_path}; real only if repeated "
                  "two consecutive rounds):")
            for name, old, cur in regressions:
                tr = task_ratio(name)
                task = f", task {tr:.2f}x" if tr is not None else ""
                print(f"  {name:28s} {old:.3f} -> {cur:.3f} s "
                      f"({cur / old:.2f}x{task})")
        else:
            print(f"no per-query regression clears max(40%, 2x floor) "
                  f"vs {prev_path}")
    if md_path:
        # The 10x-scale curve (ScaleProbe) is the artifact's only direct
        # 100x-survivability evidence; a plain rewrite dropped it once
        # (r13->r14 regression). Carry the section forward verbatim, and
        # FAIL the refresh if it would be absent from the result.
        SCALE_HDR = "## 10×-scale curve (ScaleProbe)"
        MARK = "_[scale-curve freshness]_:"
        preserved = ""
        try:
            old = open(md_path).read()
            preserved = old[old.index(SCALE_HDR):]
            # Freshness stamp (ADVICE r15): the section is carried forward
            # verbatim, so without a marker stale ScaleProbe numbers could
            # silently survive refreshes forever. Re-stamp idempotently:
            # drop any previous marker, insert the carry-forward date right
            # under the header.
            preserved = "\n".join(l for l in preserved.split("\n")
                                  if not l.startswith(MARK))
            stamp = time.strftime("%Y-%m-%d")
            preserved = preserved.replace(
                SCALE_HDR,
                SCALE_HDR + f"\n\n{MARK} carried forward verbatim at the "
                f"{stamp} PERF refresh — the ScaleProbe numbers keep the "
                "date of their own run; re-run `sbt \"runMain "
                "graft.ScaleProbe\"` after engine changes to the probed "
                "operators.", 1)
            print(f"NOTE: 10x-scale section carried forward; stamped {stamp}")
        except (FileNotFoundError, ValueError):
            pass
        with open(md_path, "w") as f:
            f.write("# PERF — Spark (local[32]) vs DuckDB, same parquet, "
                    f"same machine\n\nsf dir: `{sf_dir}`; DuckDB median of 3 "
                    "runs; Spark per-query time from Bench (includes job "
                    "scheduling + noop-sink materialization).\n\n")
            if noise_floor is not None:
                f.write(f"Sweep noise floor (median per-query pass spread): "
                        f"**{noise_floor * 100:.1f}%**. Round-over-round "
                        "rule: a per-query delta is a regression only if it "
                        "clears max(40%, 2× the floor) relative AND 0.3 s "
                        "absolute, in two consecutive rounds.\n\n")
            f.write(f"DuckDB host-speed calibration (3 pinned probes, "
                    f"median of 5): **{cal['total']:.3f} s** ("
                    + ", ".join(f"{k} {cal[k]:.3f}" for k in CALIBRATION)
                    + f"). Parallelism probe: **{par['effective_cores']} "
                    f"effective cores of {par['procs']}** (solo burn "
                    f"{par['solo_s']} s, {par['procs']}-way wall "
                    f"{par['wall_s']} s) — single-thread speed and wide-"
                    "stage throughput are separate weather axes; a deficit "
                    "here inflates shuffle/iteration-heavy queries while "
                    "scan-light queries and the DuckDB probes stay flat.")
            if norm_note:
                f.write(f" {norm_note}.")
            f.write("\n\n")
            if prev_path:
                if regressions:
                    f.write(f"Regression candidates vs `{prev_path}`: " +
                            ", ".join(f"`{n}` {o:.2f}→{c:.2f} s"
                                      for n, o, c in regressions) + ".\n\n")
                else:
                    f.write(f"No per-query regression clears the rule vs "
                            f"`{prev_path}`.\n\n")
            f.write("| query | spark s | duckdb s | ratio |\n|---|---|---|---|\n")
            for name, spark, duck, ratio in sorted(
                    rows, key=lambda r: -(r[3] or 0)):
                s = f"{spark:.3f}" if spark is not None else "n/a"
                d = f"{duck:.3f}" if duck is not None else "n/a"
                r = f"{ratio:.2f}x" if ratio is not None else "-"
                f.write(f"| {name} | {s} | {d} | {r} |\n")
            f.write(f"| **total ({len(ok)} comparable)** | **{tot_s:.1f}** "
                    f"| **{tot_d:.1f}** | **{tot_s / tot_d:.2f}x** |\n")
            f.write("""
## Reading these numbers

- Spark times are steady-state: Bench warms every query once un-timed
  before measuring, so first-execution Janino/JIT compilation (0.3-1.5 s
  per plan shape, one-time cost) stays out of the numbers. DuckDB times
  are the median of 3 runs for the same reason.

- The reference pipeline itself publishes no numbers (BASELINE.md): it is a
  single-threaded eager pandas/torch program with `deepcopy` between stages
  and an O(scenes x stations x |GT|) mask scan at its core. `pipeline_e2e`
  runs that entire program as one lazy Spark plan in a few seconds.
- DuckDB is the single-node speed-of-light: vectorized, in-process, zero
  scheduling. Parity there is a strong result; Spark buys back the gap the
  moment data exceeds one node.
- Heavy-data queries (the dedup chain, text analysis) sit at 0.25x-4x
  DuckDB; several are at or below parity.
- Ratios above ~10x are all sub-second (or low-single-second) Spark
  absolute times: fixed per-job scheduling overhead on tiny fixture
  inputs, which amortizes to noise at cluster scale. The streaming
  queries (e5-e8, s5d) additionally pay microbatch machinery (source
  listing, state-store commits) the batch comparator never pays, by
  design; iterative queries (d8/d10/d11 connected components) pay one
  job per propagation round, and the chunked long-history folds
  (ts6/ts7) pay one state-carry job per chunk — a fixed floor that the
  one-month fixture cannot amortize but a multi-year key does (the
  chunking exists to turn O(d^2) per key into O(d*chunk)). Check the
  spark-seconds column before chasing a ratio.
""")
            if preserved:
                f.write("\n" + preserved)
        if SCALE_HDR not in open(md_path).read():
            sys.exit(f"{md_path} is missing the '{SCALE_HDR}' section — "
                     "run `sbt \"runMain graft.ScaleProbe\"` and paste the "
                     "table; the 10x curve is the 100x-survivability "
                     "evidence and must not drop out of the artifact")


if __name__ == "__main__":
    md, prev = None, None
    args = [a for a in sys.argv[1:]]
    for flag in ("--md", "--prev"):
        if flag in args:
            i = args.index(flag)
            if flag == "--md":
                md = args[i + 1]
            else:
                prev = args[i + 1]
            args = args[:i] + args[i + 2:]
    main(args[0], args[1], args[2], md, prev)
