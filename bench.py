"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>}

Each query executes through the noop sink so the full physical plan runs
(scan → shuffle → agg) without driver-side collect overhead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tailpipe_spark.queries import build_registry
from tailpipe_spark.session import (
    TEST_TABLES,
    active_cpus,
    build_session,
    input_bytes,
    tune_scan_splits,
)

HEADLINE = [
    # The bench measures the engine a user gets: plain SUM() runs the
    # JVM-native double path (q01_fast). The decimal twin
    # q01_pricing_summary exists for cross-engine oracle determinism and
    # stays value-checked in the correctness harness.
    "q01_fast",
    "q03_shipping_priority",
    "q05_local_supplier",
    "q_topk_window",
    "q_window_functions",
    "q_time_bucket_hourly",
    "q_sessionize",
    "q_asof_join",
    "q_range_join",
    "q_json_extract",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_fast",
    "text_quality",
    "text_token_stats",
    "sim_cosine_topk",
]


# Quiet-box reference for the DuckDB side of THIS bench (sf0.1, this
# container): trailing median of duckdb_total across six quiet sessions
# (2.691/2.937/3.494/4.316/2.709/2.907 → 2.92). DuckDB's wall is the
# bench's built-in load cell — its code never changes between runs,
# so when ITS total drifts well above the trailing median the box is
# contended and the capture is self-labeling (a contended capture
# showed DuckDB +25% in the same run). Override per-SF runs
# with SPARK_GRAFT_DUCKDB_REF; <=0 disables the flag (non-sf0.1 runs
# have no pinned reference).
_DUCKDB_REF_SEC = 2.92
_CONTENTION_DRIFT = 0.20

# Second, SF-independent contention trigger: the DuckDB-drift flag only
# works where a quiet-box reference is pinned (sf0.1 full-headline
# runs), so sf10 captures could ship at measurable hypervisor steal
# (3.15% seen) with `contended: false`. Steal measured over the attempt's own window
# needs no reference — any attempt whose steal_pct exceeds this
# threshold self-labels contended and triggers the same bounded
# auto-retry. 1% ≈ the quiet-box ceiling observed across clean
# sessions (0.2-0.8%); override with SPARK_GRAFT_STEAL_MAX
# (<=0 disables).
_STEAL_CONTENTION_PCT = 1.0


def _loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def _cpu_ticks() -> tuple[int, int, int]:
    """(busy, idle, steal) jiffies from /proc/stat line 1. Steal is the
    smoking gun the loadavg can't show: this box is a VM, and a noisy
    co-tenant inflates BOTH engines uniformly while the guest's own loadavg stays low. steal_pct over
    the bench window labels that directly."""
    try:
        with open("/proc/stat") as fh:
            parts = [int(x) for x in fh.readline().split()[1:]]
        idle = parts[3] + parts[4]  # idle + iowait
        steal = parts[7] if len(parts) > 7 else 0
        busy = sum(parts) - idle
        return busy, idle, steal
    except (OSError, ValueError, IndexError):
        return 0, 0, 0


def _running_procs() -> int:
    """Count of currently-runnable processes (4th /proc/loadavg field,
    numerator) — a concurrent-process snapshot without shelling out to
    ps."""
    try:
        with open("/proc/loadavg") as fh:
            return int(fh.read().split()[3].split("/")[0])
    except (OSError, ValueError, IndexError):
        return -1


def _auto_advisory_bytes(total_bytes: int) -> int:
    """AQE post-shuffle coalescing target, sized to keep ~4 coalesced
    partitions per core for the ACTIVE dataset instead of Spark's flat
    64 MB (interleaved sweep at sf10 on 32 cores: advisory 64m -> 8m
    moved dedup_ngram_jaccard 27.3 -> 25.0 s, dedup_minhash_fast
    6.6 -> 4.3 s, q_range_join 5.5 -> 3.2 s, q03 3.4 -> 2.5 s;
    parallelismFirst=false and AQE-off both measured worse on at least
    one entry). The flat default coalesces a ~1 GB workload's exploded
    shuffles onto a fraction of the cores. Clamped to [4 MB, 64 MB]: past the cap — any real
    cluster-scale dataset — Spark's default applies unchanged, where
    the guide's 100 MB-1 GB shuffle-partition sizing takes over via
    shuffle.partitions and AQE skew splitting."""
    cores = active_cpus()
    return max(4 << 20, min(64 << 20, total_bytes // (cores * 4)))


def _auto_shuffle_partitions(total_bytes: int) -> int:
    """Size shuffle parallelism to the data, not the core count: one
    partition per ~64 MB of input, floor 8, cap 2000. At sf0.1 (~60 MB)
    that's 8 — task-scheduling overhead would dominate 32 tiny tasks;
    at 100 TB the cap applies and AQE coalesces from there."""
    return max(8, min(2000, total_bytes // (64 * 1024 * 1024)))


def _run_attempt(
    spark, con, registry, headline, reps, sf_dir, sf, setup_errors, oracle_twin
) -> dict:
    """One full interleaved measurement pass over ``headline``; returns
    the complete artifact payload including its own contention telemetry
    (load/steal/busy bracketed around exactly this pass). main() retries
    this when the pass self-labels ``contended``: the flag drives a
    bounded re-capture instead of only labeling a dirty one."""
    load_start = _loadavg()
    procs_start = _running_procs()
    ticks_start = _cpu_ticks()
    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    errors: dict[str, str] = dict(setup_errors)
    duck: dict[str, float] = {}

    for name in headline:
        fn = registry[name].fn
        times: list[float] = []
        try:
            # Plan built ONCE per query, outside the timed loop, plus one
            # untimed warm rep. What the timed reps then
            # measure is pure engine execution — scan, shuffle, agg run in
            # full every rep (noop sink, nothing cached between reps).
            # Rationale: Python DataFrame construction + first-save
            # analysis cost 0.10-0.21 s per rep on the measured floor
            # (profiled this box: q01_fast build 0.100 + analyze ~0.115)
            # — a fixed Spark-only driver cost that amortizes to nothing
            # at cluster scale and that a user's repeated query never
            # re-pays (cached analyzed plan). DuckDB's equivalent
            # parse+plan is 1.1 ms (measured, EXPLAIN min-of-20), 80×
            # smaller, and it ALSO gets an untimed warm rep below —
            # the protocol stays symmetric: both engines' timed reps are
            # warm executions of an already-planned query.
            #
            # Why .save() and never repeated .collect() on one df: each
            # save builds a NEW QueryExecution (fresh RDD lineage), so no
            # shuffle-stage reuse between reps — verified via
            # statusTracker on q05@sf0.1: saves 1/2/3 each run the
            # identical stage set (13 stages, 4 within-plan reused
            # exchanges), while a second .collect() on the same df
            # collapses to 3 stages (Spark reuses the cached lineage's
            # completed shuffle map outputs and re-runs only the result
            # stage). Timed save reps re-execute scan/join/shuffle/agg
            # in full, every rep.
            t_cold = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()  # warm, untimed
            cold = time.time() - t_cold
            for _ in range(max(1, reps)):
                # Enforce the protocol's "nothing cached between reps":
                # a plan that embeds persist() (data_token_budget's
                # featurize-once projection) would otherwise serve every
                # timed rep from the CacheManager entry the warm rep
                # populated, while DuckDB re-executes fully each rep
                # (1.86 s cached-rep min vs 2.70 s honest
                # per-execution). clearCache is a no-op for the
                # non-persisting plans; JIT/codegen/page-cache warmth
                # survives it, so the warm rep keeps its purpose.
                spark.catalog.clearCache()
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.time() - t0)
        except Exception as e:  # noqa: BLE001 — contain; artifact must degrade, not vanish
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            continue
        timings[name] = round(min(times), 3)
        # per-rep times preserved so reviewers can see run-to-run
        # variance (the shared box shows >50% rep-to-rep noise) without
        # re-running the bench
        detail[name] = {
            # "cold" = DataFrame construction + analysis + first (warm)
            # execution — the one-time driver cost the timed reps hoist
            # out, recorded so the hoisting stays auditable from the
            # artifact itself and comparisons with protocols whose
            # "single" included it can be reconstructed.
            "cold": round(cold, 3),
            "single": round(times[0], 3),
            "min": round(min(times), 3),
            "reps": [round(t, 3) for t in times],
        }
        spec = registry.get(oracle_twin.get(name, name))
        if con is None or spec is None or spec.oracle is None:
            continue
        best = None
        try:
            t_cold = time.time()
            con.execute(spec.oracle).fetchall()  # warm, untimed (symmetric)
            detail[name]["duckdb_cold"] = round(time.time() - t_cold, 3)
            for _ in range(max(1, reps)):
                t0 = time.time()
                con.execute(spec.oracle).fetchall()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            duck[name] = round(best, 3)
        except Exception as e:  # noqa: BLE001
            errors[f"duckdb:{name}"] = f"{type(e).__name__}: {e}"[:200]

    common = [n for n in timings if n in duck]
    spark_common = sum(timings[n] for n in common)
    duck_common = sum(duck[n] for n in common)
    total = round(sum(timings.values()), 3)
    # Floor correction: each engine pays a fixed per-query dispatch floor
    # (Spark: job scheduling + stage launch, ~0.2 s even for a 1-row
    # query; DuckDB: ~0.02 s). At cluster scale the floor amortizes to
    # nothing, so the scale-relevant comparison is compute above each
    # engine's own floor. floor = min observed per-query wall.
    spark_floor = min((timings[n] for n in common), default=0.0)
    duck_floor = min((duck[n] for n in common), default=0.0)
    spark_above = sum(timings[n] - spark_floor for n in common)
    duck_above = sum(duck[n] - duck_floor for n in common)
    # Contention telemetry: the capture labels itself dirty when the
    # DuckDB side — whose code never changes — drifts >20% above its quiet-box trailing median. Only
    # meaningful when the FULL headline set ran against the pinned-SF
    # reference (a subset run sums fewer queries). The env override is
    # parsed explicitly: "0" (or any <=0) DISABLES the flag — the old
    # `float(env or) or fallback` made "0" falsy and silently fell
    # through to the pinned reference.
    env_ref = os.environ.get("SPARK_GRAFT_DUCKDB_REF")
    if env_ref is not None:
        duck_ref = max(0.0, float(env_ref))
    else:
        duck_ref = (
            _DUCKDB_REF_SEC
            if abs(sf - 0.1) < 1e-9 and len(common) == len(HEADLINE)
            else 0.0
        )
    ticks_end = _cpu_ticks()
    d_busy = ticks_end[0] - ticks_start[0]
    d_idle = ticks_end[1] - ticks_start[1]
    d_steal = ticks_end[2] - ticks_start[2]
    steal_pct = (
        round(100.0 * d_steal / (d_busy + d_idle), 2)
        if (d_busy + d_idle) > 0
        else None
    )
    steal_max = float(os.environ.get("SPARK_GRAFT_STEAL_MAX",
                                     str(_STEAL_CONTENTION_PCT)))
    contended = bool(
        duck_ref > 0 and duck_common > duck_ref * (1 + _CONTENTION_DRIFT)
    ) or bool(steal_max > 0 and steal_pct is not None and steal_pct > steal_max)
    telemetry = {
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
        "running_procs_start": procs_start,
        "running_procs_end": _running_procs(),
        # share of this VM's CPU time stolen by the hypervisor over the
        # whole bench window (steal is counted inside busy)
        "steal_pct": steal_pct,
        "steal_max_pct": steal_max if steal_max > 0 else None,
        "busy_pct": (
            round(100.0 * d_busy / (d_busy + d_idle), 2)
            if (d_busy + d_idle) > 0
            else None
        ),
        "duckdb_ref_sec": duck_ref if duck_ref > 0 else None,
        "contended": contended,
    }
    return {
        "metric": "headline_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # both estimators so comparisons across captures stay
        # apples-to-apples: "single" = first TIMED rep of each
        # query (after the untimed warm rep),
        # "min" = best of reps (low-variance on a noisy box)
        "queries_detail": detail,
        "errors": errors,
        "reps": max(1, reps),
        "single_total": round(sum(d["single"] for d in detail.values()), 3),
        "duckdb_queries": duck,
        "duckdb_total": round(duck_common, 3),
        "spark_vs_duckdb_ratio": (
            round(spark_common / duck_common, 3) if duck_common else None
        ),
        "spark_floor_sec": round(spark_floor, 3),
        "duckdb_floor_sec": round(duck_floor, 3),
        "floor_corrected_ratio": (
            round(spark_above / duck_above, 3) if duck_above > 0 else None
        ),
        "telemetry": telemetry,
        "sf": sf,
    }


def _ingest_walls(spark, sf_dir: str, headline, setup_errors: dict) -> dict:
    """Fairness receipt for ingest-cached entries: entries that probe a
    .vcache workspace (parse-at-ingest storage) amortize a one-time
    ingest outside every timed region, so the artifact carries that cost
    next to the probe wall. Run BEFORE the timed attempts so a cold
    workspace build never rides a query's timing. A failed build lands
    in ``setup_errors["ingest_build"]``; the bench still runs and
    writes its artifact, and the entries that need the workspace report
    their own errors."""
    from tailpipe_spark.queries.timeseries import ingest_build_walls

    try:
        return ingest_build_walls(spark, sf_dir, headline)
    except Exception as e:  # noqa: BLE001 — the artifact must still be written
        setup_errors["ingest_build"] = f"{type(e).__name__}: {e}"[:200]
        return {}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    total_bytes = input_bytes(sf_dir) or 0
    spark = build_session(
        "tailpipe-bench", shuffle_partitions=_auto_shuffle_partitions(total_bytes)
    )
    # AQE earns its keep re-planning real shuffles; under ~1 GB its extra
    # stage materialization is pure overhead (~40% at sf0.1) — toggle by
    # data size, exactly what a scale-aware engine should do.
    spark.conf.set(
        "spark.sql.adaptive.enabled",
        "false" if total_bytes < (1 << 30) else "true",
    )
    tune_scan_splits(spark, total_bytes)
    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        str(_auto_advisory_bytes(total_bytes)),
    )
    registry = build_registry()

    # warmup: JIT + codegen on the small SF, then a plain count over the
    # bench-SF tables (parquet footer + OS page caches, scan codegen) so
    # the first measured query doesn't pay one-time JIT cost. No measured
    # query runs before its timing.
    from tailpipe_spark.session import read_table

    registry["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001").count()
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        read_table(spark, f"{sf_dir}/{t}.parquet").count()

    # Per-query minimum over N repetitions: the shared bench box carries
    # unpredictable background load (observed >50% inflation), and the
    # min is the standard low-variance estimator of the code's actual
    # cost. Reps are sequential full executions, not cached results.
    # One analysis error must NOT kill the artifact —
    # each query is contained, failures land in an "errors" map, and the
    # partial totals always print.
    # 7 reps: the shared box shows 2-3× rep-to-rep inflation under
    # background load (2-rep mins read ~0.3 s high per query), and
    # 5-rep series were still monotonically falling at rep 5 (JIT/
    # code-cache warming: q01_fast 1.05→0.49→0.42→0.42→0.38) — min of 7
    # captures steady state to ~±0.03 s for ~25 s more wall.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "7"))
    # optional subset (comma-separated) for targeted scale runs, e.g.
    # the sf10 stretch bench over the five heaviest queries
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    if subset:
        # Tokens are stripped and unknown names are a hard error: the
        # old filter silently dropped typos/whitespace-padded names, so
        # a bad subset produced a partial-or-empty artifact that looked
        # like a legitimate record. Any REGISTRY entry is benchable
        # (the sf10 stretch set includes heavy non-headline entries
        # like dedup_containment); names outside the
        # registry stay a hard error.
        # de-dup while preserving order: a repeated name would otherwise
        # run twice, double-count in spark_total, and let the second run
        # overwrite the first's timing entry
        wanted = list(dict.fromkeys(t.strip() for t in subset.split(",") if t.strip()))
        unknown = sorted(set(wanted) - set(registry))
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_QUERIES names not in the registry: "
                f"{unknown}"
            )
        headline = [q for q in HEADLINE if q in set(wanted)] + [
            q for q in wanted if q not in set(HEADLINE)
        ]
    else:
        headline = HEADLINE

    setup_errors: dict[str, str] = {}
    ingest_walls = _ingest_walls(spark, sf_dir, headline, setup_errors)

    # In-artifact baseline setup: DuckDB running the IDENTICAL oracle
    # SQL over the same parquet, same process. Each query's Spark and
    # DuckDB reps run ADJACENT IN TIME (interleaved per query, not two
    # separated phases): the shared box's background load drifts on a
    # minutes scale, and a phase-separated protocol let one engine
    # absorb a load spike the other never saw — observed as a 2x swing
    # in the headline ratio between otherwise identical runs.
    con = None
    oracle_twin = {"q01_fast": "q01_pricing_summary",
                   "dedup_minhash_fast": "dedup_minhash_lsh"}
    try:
        import duckdb

        con = duckdb.connect()
        # same active-core contract as the Spark side (active_cpus):
        # the scaling probe must restrict BOTH engines
        con.execute(f"SET threads TO {active_cpus()}")
        for t in TEST_TABLES:
            # generated bench sets (tools/gen_sf.py) are directories of
            # part files; DuckDB needs the glob form for those. A
            # provisioned layout (bucketed twin) nests hive dirs, so
            # the glob is recursive with hive partitioning on — same
            # rows either way, just a layout-robust listing.
            path = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(path):
                src = f"{path}/**/*.parquet"
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}', "
                    f"hive_partitioning=true)"
                )
            else:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
    except Exception as e:  # noqa: BLE001 — baseline is best-effort
        setup_errors["duckdb"] = f"{type(e).__name__}: {e}"[:200]
        con = None

    # Bounded auto-retry on the capture's own contention flag: a capture
    # under hypervisor CPU steal is labeled by its telemetry, and a
    # labeled capture must not ship as the number. A `contended: true`
    # pass triggers a cool-down and a
    # full re-measure (≤SPARK_GRAFT_BENCH_RETRIES attempts). Selection
    # among attempts is LOAD-based, never result-based: prefer
    # non-contended attempts, tie-break on the lowest DuckDB total (the
    # built-in load cell, whose code never changes) — retries therefore
    # cannot cherry-pick a lucky Spark number, only a quiet window.
    # Every attempt's telemetry ships in the artifact for audit.
    max_attempts = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RETRIES", "3")))
    cooldown = float(os.environ.get("SPARK_GRAFT_BENCH_COOLDOWN_SEC", "45"))
    attempts: list[dict] = []
    for i in range(max_attempts):
        if i:
            time.sleep(cooldown)
        p = _run_attempt(
            spark, con, registry, headline, reps, sf_dir, sf,
            setup_errors, oracle_twin,
        )
        attempts.append(p)
        if not p["telemetry"]["contended"]:
            break
    clean = [p for p in attempts if not p["telemetry"]["contended"]] or attempts
    payload = min(
        clean,
        key=lambda p: p["duckdb_total"] if p["duckdb_total"] > 0 else float("inf"),
    )
    payload["attempt_count"] = len(attempts)
    if ingest_walls:
        # one-time workspace build seconds per ingest-cached entry
        # (amortized across every later query over that storage)
        payload["ingest_walls"] = ingest_walls
    if len(attempts) > 1:
        payload["attempts_telemetry"] = [
            {
                "value": p["value"],
                "duckdb_total": p["duckdb_total"],
                "spark_vs_duckdb_ratio": p["spark_vs_duckdb_ratio"],
                "selected": p is payload,
                "telemetry": p["telemetry"],
            }
            for p in attempts
        ]
    # full artifact on disk FIRST: the driver's stdout capture keeps only
    # the last ~2000 chars (a longer line arrives front-truncated and
    # unparseable), so the on-disk file is the complete record and the
    # stdout line below is a compact subset guaranteed to fit the capture.
    # Default path is gitignored scratch (.bench/), so a run never
    # dirties the tree; a record meant to be kept is written only via an
    # explicit SPARK_GRAFT_BENCH_OUT.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            ".bench",
            "BENCH_SCRATCH.json",
        ),
    )
    try:
        # dirname is "" for a bare filename (cwd-relative out path);
        # makedirs("") raises FileNotFoundError and the record would be
        # silently dropped by the except below
        out_dir = os.path.dirname(out_path)
        if out_dir:
            os.makedirs(out_dir, exist_ok=True)
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError:
        pass  # read-only checkout must not kill the bench
    # Compact stdout payload: drop the per-rep arrays and per-query
    # baseline map (both stay in the on-disk record above) so the LAST stdout
    # line stays well under the driver's 2000-char tail window and
    # json.loads(last_line) always succeeds.
    stdout_payload = {
        k: v
        for k, v in payload.items()
        if k not in ("queries_detail", "duckdb_queries", "attempts_telemetry")
    }
    if not stdout_payload.get("errors"):
        stdout_payload.pop("errors", None)
    line = json.dumps(stdout_payload)
    if len(line) > 1900:  # belt-and-braces: shed keys until it fits.
        # "errors" carries up to 500 chars per failed query, so in the
        # regressed runs where errors matter most it alone can
        # overflow the tail window — shed error BODIES first (keep the
        # names: which queries failed survives), then detail maps.
        if stdout_payload.get("errors"):
            stdout_payload["errors"] = sorted(stdout_payload["errors"])
            line = json.dumps(stdout_payload)
        for k in ("queries", "errors", "telemetry"):
            if len(line) <= 1900:
                break
            stdout_payload.pop(k, None)
            line = json.dumps(stdout_payload)
    sys.stdout.flush()
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
