"""Per-stage profiling for one registered query (optimization-round
tooling): runs the row cold + N warm iterations with the Spark UI's
REST API enabled, then prints per-stage executorRunTime / shuffle
bytes / task counts for the jobs the warm iteration launched, plus the
wall split between plan build (fn call) and execution (count()). Each
warm line says whether the build was a registry plan-cache hit (the
row's analyzed plan replayed, its function not called), a miss (the
row rebuilt and cached) or uncached (a row the cache never holds), so
a near-zero build reads as a hit rather than as a cheap row.

Usage:
    python scripts/profile_row.py <query_name> [sf_dir] [warm_iters]

Writes nothing; purely a measurement harness (guide §1).
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    warm_iters = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    import os

    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    from regpulse_lakehouse_spark import session as S

    # enable the UI for this process only (the REST API is the point)
    S._DEFAULTS["spark.ui.enabled"] = "true"
    spark = S.get_spark(f"profile_{name}")
    from regpulse_lakehouse_spark.queries import PLAN_CACHE_STATS, load_all

    q = load_all()[name]

    t0 = time.perf_counter()
    q.fn(spark, sf_dir).count()
    cold = time.perf_counter() - t0
    print(f"cold: {cold:.3f}s", file=sys.stderr)

    # warm iterations, separately timing plan build vs execution
    for i in range(warm_iters):
        before = dict(PLAN_CACHE_STATS)
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.count()
        t2 = time.perf_counter()
        cache = next(
            (k for k in ("hit", "miss") if PLAN_CACHE_STATS[k] > before.get(k, 0)), "uncached"
        )
        print(
            f"warm[{i}]: build {t1 - t0:.3f}s exec {t2 - t1:.3f}s "
            f"total {t2 - t0:.3f}s plan cache {cache}",
            file=sys.stderr,
        )

    # mark, run once more, diff the stage set
    base = "http://localhost:4040/api/v1"
    apps = json.load(urllib.request.urlopen(f"{base}/applications"))
    app_id = apps[0]["id"]

    def stages():
        return {
            s["stageId"]: s
            for s in json.load(
                urllib.request.urlopen(
                    f"{base}/applications/{app_id}/stages?status=complete"
                )
            )
        }

    before = stages()
    t0 = time.perf_counter()
    df = q.fn(spark, sf_dir)
    df.count()
    wall = time.perf_counter() - t0
    time.sleep(0.5)
    after = stages()
    new = [s for sid, s in sorted(after.items()) if sid not in before]
    print(f"\nprofiled iteration: wall {wall:.3f}s, {len(new)} stages")
    tot_run = 0
    for s in new:
        run_ms = s.get("executorRunTime", 0)
        cpu_ms = s.get("executorCpuTime", 0) / 1e6
        srr = s.get("shuffleReadBytes", 0)
        srw = s.get("shuffleWriteBytes", 0)
        inp = s.get("inputBytes", 0)
        tot_run += run_ms
        nm = s.get("name", "?")[:60]
        print(
            f"  stage {s['stageId']:>4} tasks={s.get('numCompleteTasks', 0):>3} "
            f"run={run_ms / 1000:>7.3f}s cpu={cpu_ms / 1000:>7.3f}s "
            f"in={inp >> 10}K sr={srr >> 10}K sw={srw >> 10}K  {nm}"
        )
    print(f"  total executorRunTime {tot_run / 1000:.3f}s across {len(new)} stages")
    spark.stop()


if __name__ == "__main__":
    main()
