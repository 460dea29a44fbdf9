#!/usr/bin/env python
"""Benchmark harness, sized from the host: CPUS is
``session.default_cores()`` ($SPARK_GRAFT_CPUS, else the usable CPUs).

  * headline queries (the ``bench`` rows of ``__spark_entry__.REGISTRY``)
    at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[CPUS]
  * the north-star job, ``tiles.pip_tile_rollup`` at the library res,
    on local[CPUS]: rows/sec of the best of SCALE_REPS
  * the scaling protocol (BENCH/BASELINE.md): the same job at the
    ``scale_pair(CPUS)`` levels N and 4N, interleaved passes, fastest
    rep per level; skipped below 4 cores or with SPARK_GRAFT_SCALING=0
  * noise sentinel: three never-changing pure-JVM queries against their
    median over prior runs at the same sf and CPUS; an episode
    (NOISE_RATIO median or NOISE_MAX_RATIO single-sentinel deviation)
    re-times the suite once and keeps the faster pass
  * the full record (queries, noise_check, every rep) goes to
    BENCH/rNN.json; stdout ends with ONE short JSON line (metric,
    value, unit, sf, north-star and scaling rows/sec) whose "record"
    names that file
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from esri_dump_spark.session import default_cores, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
N_POINTS = 32_000_000
# 8 reps/level (4 interleaved passes): the shared host's ~1.5x
# hypervisor noise makes 2-3 reps a coin flip on which level gets the
# quiet slot — measured efficiency swung 0.95 -> 0.82 run-to-run on
# identical code; best-of-8 converges both levels to capability
SCALE_REPS = 8
# noise sentinels: never-changing pure-JVM queries whose history is a
# clean probe of the HOST, not the code — a uniform slowdown across
# them is hypervisor noise (the r17 episode: 1.9x on identical code)
SENTINELS = ("join_broadcast", "token_count", "agg_pricing")
NOISE_RATIO = 1.5
# secondary localized-burst trigger: a single sentinel this far above
# its own history median marks an episode even when the other
# sentinels are quiet (the r26 miss: a mid-suite burst inflated
# token_count 5x while the early sentinels ran clean — the MEDIAN
# rule is robust to one flaky sentinel but blind to a burst that
# only one sentinel's suite position samples)
NOISE_MAX_RATIO = 3.0


def scale_pair(cores: int) -> tuple[int, int] | None:
    """The N -> 4N scaling levels for a host of ``cores``: (4, 16) from
    16 cores, (1, 4) from 4, none below 4. The high level never
    oversubscribes the host."""
    if cores >= 16:
        return 4, 16
    if cores >= 4:
        return 1, 4
    return None


def _spark(cores: int):
    return get_spark(app_name=f"esri-dump-spark-bench-{cores}", cores=cores,
                     shuffle_partitions=max(cores * 2, 16))


def _time_job(spark, points_path: str, polys, dim, reps: int) -> list[float]:
    """One warm-up run of the north-star job, then ``reps`` timed runs
    (seconds each)."""
    from esri_dump_spark.operators.tiles import pip_tile_rollup
    job = pip_tile_rollup(spark.read.parquet(points_path), polys, dim=dim)
    job.count()
    meas = []
    for _ in range(reps):
        t0 = time.time()
        job.count()
        meas.append(time.time() - t0)
    return meas


def run_headline(spark) -> dict[str, float]:
    import __spark_entry__ as E

    # warm the session so JVM/codegen/python-worker startup is not
    # attributed to the first query; the mapInPandas pass actually
    # launches the Arrow python workers (a pure-JVM count would not)
    warm = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1000)
    warm.count()
    warm.mapInPandas(lambda it: it, schema=warm.schema).count()
    times: dict[str, float] = {}
    for q in (q for q in E.REGISTRY if q.bench):
        t0 = time.time()
        n = q.builder(spark, SF_DIR).count()
        times[q.name] = round(time.time() - t0, 3)
        print(f"  {q.name}: {times[q.name]}s ({n} rows)", file=sys.stderr)
    return times


def _archived() -> list[tuple[int, dict]]:
    """(N, record) of every BENCH/rN.json by numeric N; an unreadable
    record reads as {} but still holds its index."""
    import glob
    import re
    out = []
    for p in glob.glob(f"{REPO}/BENCH/r*.json"):
        m = re.search(r"r(\d+)\.json$", p)
        if m is None:
            continue
        try:
            with open(p) as f:
                out.append((int(m.group(1)), json.load(f)))
        except (OSError, json.JSONDecodeError):
            out.append((int(m.group(1)), {}))
    return sorted(out, key=lambda nd: nd[0])


def _history(sf, cpus) -> list[dict]:
    """Archived records with per-query timings at this sf and core
    count, oldest first: timings from another core count say nothing
    about this host."""
    return [d for _, d in _archived() if d.get("sf") == sf
            and d.get("cpus") == cpus and d.get("queries")]


def _noise_check(times: dict[str, float], sf) -> dict:
    """Compare this run's sentinel timings to their median across
    prior archived runs AT THE SAME SF AND CPUS (timings from another
    core count say nothing about this host). A >NOISE_RATIO median
    deviation across the sentinels marks a hypervisor-noise episode
    (the shared host shows ~1.5-2x uniform swings of unchanged
    pure-JVM queries); the caller then re-times the suite once and
    records the faster pass, with both passes archived in the JSON."""
    import statistics
    hist = [d["queries"] for d in _history(sf, CPUS)]
    sentinels = {}
    ratios = []
    for name in SENTINELS:
        vals = [h[name] for h in hist if h.get(name)]
        now = times.get(name)
        if len(vals) >= 2 and now:
            med = statistics.median(vals)
            sentinels[name] = {"now": now, "hist_median": round(med, 3),
                               "ratio": round(now / med, 2)}
            ratios.append(now / med)
    ratio = round(statistics.median(ratios), 2) if ratios else None
    mx = round(max(ratios), 2) if ratios else None
    episode = bool(ratio and ratio > NOISE_RATIO) or \
        bool(mx and mx > NOISE_MAX_RATIO)
    return {"sentinels": sentinels, "ratio_vs_history": ratio,
            "max_sentinel_ratio": mx,
            "threshold": NOISE_RATIO, "max_threshold": NOISE_MAX_RATIO,
            "n_history_runs": len(hist),
            "episode": episode, "reruns": 0}


def _scale_input():
    """Points table + polygon dim for the scaling job (cached)."""
    from esri_dump_spark.operators.spatial_join import build_polygon_dim
    from esri_dump_spark.sources.fixtures import (
        bench_polygons_pdf, ensure_points_parquet,
        points_parquet_committed, points_parquet_path)
    # the commit probe lives in fixtures (validates the _SUCCESS
    # marker — a bare exists() here once served a crashed partial
    # write as the scaling table, inflating every recorded rows/sec)
    if points_parquet_committed(N_POINTS):
        path = points_parquet_path(N_POINTS)
    else:
        gen = _spark(CPUS)
        try:
            path = ensure_points_parquet(gen, N_POINTS)
        finally:
            gen.stop()
    polys = bench_polygons_pdf()
    return path, polys, build_polygon_dim(polys)


def run_scaling(pair: tuple[int, int], points_path: str, polys,
                dim) -> dict:
    """Interleaved passes: each pass times the job at BOTH parallelism
    levels back-to-back, so hypervisor-level noise (invisible steal on
    a shared host — throughput swings ~1.5x while the guest shows
    idle) hits both levels alike; the fastest rep per level
    (timeit-style) is the engine's capability. Every rep is recorded."""
    meas: dict[int, list[float]] = {c: [] for c in pair}
    for _ in range(SCALE_REPS // 2):
        for cores in pair:
            spark = _spark(cores)
            try:
                meas[cores] += _time_job(spark, points_path, polys, dim, 2)
            finally:
                spark.stop()
    results = {}
    for cores in pair:
        best = min(meas[cores])
        results[cores] = {"sec": round(best, 3),
                          "all_sec": [round(x, 3) for x in meas[cores]],
                          "rows_per_sec": round(N_POINTS / best, 1)}
    lo, hi = pair
    eff = (results[hi]["rows_per_sec"] / results[lo]["rows_per_sec"]) \
        / (hi / lo)
    results["scaling_efficiency"] = round(eff, 3)
    return results


def write_bench_md(pair: tuple[int, int], results: dict,
                   absolute: dict) -> None:
    from esri_dump_spark.operators.spatial_join import DEFAULT_RES
    from esri_dump_spark.operators.tiles import ROLLUP_Z
    lo, hi = pair
    eff = results["scaling_efficiency"]
    with open(f"{REPO}/BENCH/BASELINE.md", "w") as f:
        f.write(f"""# BENCH scaling protocol results

Job: `tiles.pip_tile_rollup` over the deterministic synthetic point
table ({N_POINTS:,} rows, seed=42, 20% skewed into a hot box): PIP join
against 24 lumpy 256-vertex polygons (cell broadcast + exact reference
ray-cast refine, res {DEFAULT_RES}) -> xyz tile assignment
(z={ROLLUP_Z}) -> per-(polygon, tile) rollup. Identical input, plan, and
static polygon dimension at both parallelism levels; interleaved passes
time both levels back-to-back and the fastest rep per level is reported
(timeit-style — a shared host shows ~1.5x hypervisor-noise swings while
the guest is idle; every rep is in the run's BENCH/rNN.json record).

Cluster-size protocol (stand-in for N vs 4N executors per
BASELINE.json): local[{lo}] vs local[{hi}] on a {CPUS}-core host — N and
4N cores on the same input, the high level never above the host's
cores (`bench.scale_pair`). Absolute throughput at local[{CPUS}] is
reported alongside.

| parallelism | elapsed (s, best rep) | rows/sec |
|---|---|---|
| local[{lo}] | {results[lo]['sec']} | {results[lo]['rows_per_sec']:,.0f} |
| local[{hi}] | {results[hi]['sec']} | {results[hi]['rows_per_sec']:,.0f} |
| local[{CPUS}] (absolute) | {absolute['sec']} | {absolute['rows_per_sec']:,.0f} |

**Scaling efficiency (rows/sec@{hi} / rows/sec@{lo}) / {hi // lo} =
{eff:.3f}** (target >= 0.8 per BASELINE.json north rule)

The refine runs in the JVM, as one SQL filter in the broadcast join's
condition (esri_dump_spark/operators/spatial_join.py): a point in an
interior cover cell passes without a test, and a point in a boundary
cell sums ray-cast crossings over that cell's own edges. No Python
worker runs beside the task threads, so local[1] uses one core.

Before this protocol was sized from the host (r39: 32-vCPU host, res 8,
local[4] vs local[16]): local[4] 1,372,298 rows/s, local[16] 5,084,990
rows/s, efficiency 0.926.
""")


def main() -> None:
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    points_path, polys, dim = _scale_input()

    spark = _spark(CPUS)
    t_start = time.time()
    times = run_headline(spark)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    noise = _noise_check(times, sf_val)
    if noise["episode"]:
        print(f"  NOISE EPISODE: sentinels {noise['ratio_vs_history']}x "
              f"history median — re-timing the suite once", file=sys.stderr)
        times2 = run_headline(spark)
        noise["reruns"] = 1
        noise["pass_totals_sec"] = [round(sum(times.values()), 3),
                                    round(sum(times2.values()), 3)]
        first_kept = sum(times.values()) <= sum(times2.values())
        slower, times = ((times2, times) if first_kept
                         else (times, times2))
        noise["slower_pass_queries"] = slower
        # best-of-2 can mask a real regression that merely coincides
        # with an episode: score the KEPT pass's sentinels, and if it
        # is still above threshold surface it as possibly genuine (a
        # real slowdown uniform across sentinels is otherwise
        # indistinguishable from host noise). If pass 1 is kept its
        # score IS `noise` — above threshold by construction, no
        # recompute; only the re-timed pass needs fresh sentinels.
        kept = noise if first_kept else _noise_check(times, sf_val)
        if not first_kept:
            noise["kept_pass_sentinels"] = kept["sentinels"]
        noise["kept_pass_ratio"] = kept["ratio_vs_history"]
        noise["persistent"] = kept["episode"]

    # north-star throughput at full parallelism (best of reps)
    meas = _time_job(spark, points_path, polys, dim, SCALE_REPS)
    spark.stop()
    best = min(meas)
    absolute = {"sec": round(best, 3),
                "all_sec": [round(x, 3) for x in meas],
                "rows_per_sec": round(N_POINTS / best, 1)}

    pair = scale_pair(CPUS)
    scaling = None
    if pair and os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        scaling = run_scaling(pair, points_path, polys, dim)
        write_bench_md(pair, scaling, absolute)

    line = {
        "metric": "headline_suite_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "spatial_join_rows": N_POINTS,
        "spatial_join_rows_per_sec": absolute["rows_per_sec"],
        "wall_sec": round(time.time() - t_start, 3),
    }
    record = {"cpus": CPUS, "queries": times, "noise_check": noise,
              "spatial_join_all_sec": absolute["all_sec"]}
    if scaling:
        lo, hi = pair
        line["scaling_efficiency"] = scaling["scaling_efficiency"]
        line[f"rows_per_sec_local{lo}"] = scaling[lo]["rows_per_sec"]
        line[f"rows_per_sec_local{hi}"] = scaling[hi]["rows_per_sec"]
        record["scaling_all_sec"] = {f"local{c}": scaling[c]["all_sec"]
                                     for c in pair}
    line["record"] = archive_run({**line, **record})
    print(json.dumps(line))


def archive_run(out: dict) -> str:
    """Per-round bookkeeping so regressions are diffable: write
    BENCH/r<N>.json (N = one past the highest archived index), append
    a per-query delta table vs the last archive at the same sf and
    cpus to BENCH/HISTORY.md, and return the record's repo-relative
    path."""
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    runs = _archived()
    n = runs[-1][0] + 1 if runs else 1
    same = _history(out.get("sf"), out.get("cpus"))
    prev = same[-1] if same else None
    record = f"BENCH/r{n:02d}.json"
    with open(f"{REPO}/{record}", "w") as f:
        json.dump(out, f, indent=1)
    lines = [f"\n## run r{n:02d}  (suite {out['value']}s at sf{out['sf']})\n"]
    if prev and prev.get("queries"):
        lines.append("| query | prev s | now s | delta |\n|---|---|---|---|\n")
        for q, t in sorted(out["queries"].items()):
            p = prev["queries"].get(q)
            if p is None:
                lines.append(f"| {q} | new | {t} | — |\n")
            else:
                lines.append(f"| {q} | {p} | {t} | {t - p:+.3f}s |\n")
        pv, nv = prev.get("value"), out.get("value")
        if pv:
            lines.append(f"\nsuite total: {pv}s -> {nv}s "
                         f"({nv - pv:+.3f}s); scaling eff "
                         f"{prev.get('scaling_efficiency')} -> "
                         f"{out.get('scaling_efficiency')}\n")
    nc = out.get("noise_check") or {}
    if nc.get("ratio_vs_history") is not None:
        lines.append(
            f"\nnoise sentinel: {nc['ratio_vs_history']}x history median "
            f"(threshold {nc['threshold']}; max single sentinel "
            f"{nc.get('max_sentinel_ratio')}x, burst threshold "
            f"{nc.get('max_threshold')}; {nc['n_history_runs']} prior "
            f"runs at this sf and core count)")
        if nc.get("episode"):
            lines.append(
                f" — EPISODE: suite re-timed once, faster pass recorded "
                f"(pass totals {nc.get('pass_totals_sec')}s; slower pass "
                f"kept in the JSON)")
            if nc.get("persistent"):
                lines.append(
                    f" — WARNING: the KEPT pass's sentinels are still "
                    f"{nc.get('kept_pass_ratio')}x history median (above "
                    f"threshold). A persistent episode across both passes "
                    f"may be a real regression, not host noise — compare "
                    f"the next run before trusting these numbers.")
        lines.append("\n")
    mode = "a" if os.path.exists(f"{REPO}/BENCH/HISTORY.md") else "w"
    with open(f"{REPO}/BENCH/HISTORY.md", mode) as f:
        if mode == "w":
            f.write("# Per-round bench history (archived by bench.py)\n")
        f.writelines(lines)
    return record


if __name__ == "__main__":
    main()
