"""Physical-layout helpers shared by CPU-heavy operators."""

from __future__ import annotations

import os
import threading
import time
import weakref

from pyspark.sql import DataFrame


class _CheckpointLease:
    """One ``localCheckpoint`` frame's blocks, held by every owner that
    reads them: each owner keeps a strong reference, and the blocks are
    released when the last reference goes (the lease's finalizer)."""

    __slots__ = ("__weakref__",)

    def __init__(self, jdf) -> None:
        weakref.finalize(self, release_local_checkpoint, jdf)


def _owner_lists(result) -> tuple[list[DataFrame], list[_CheckpointLease]]:
    """The (caches, checkpoint-leases) lists tied to ``result``'s Python
    object. Created (with ONE finalizer, which unpersists the caches)
    on first use; subsequent own_* calls on the same result extend the
    same lists — the finalizer captures the cache list object, so
    growth is seen. The leases need no finalizer here: they die with
    ``result``'s attribute, and release once no other owner holds
    them."""
    caches = getattr(result, "_owned_caches", None)
    ckpts = getattr(result, "_owned_ckpts", None)
    if caches is None:
        caches, ckpts = [], []
        result._owned_caches = caches
        result._owned_ckpts = ckpts

        def _release(caches: list[DataFrame] = caches) -> None:
            for c in caches:
                try:
                    c.unpersist(blocking=False)
                except Exception:  # session already stopped — nothing to free
                    pass

        weakref.finalize(result, _release)
    return caches, ckpts


def own_caches(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Tie persisted ``frames`` to ``result``'s lifetime: when the
    Python object for ``result`` is garbage-collected, each frame is
    unpersisted — so operators can persist reused intermediates (the
    LSH banded frame, the Jaccard postings frame) without leaking
    cached partitions across a long-lived session that runs many
    queries back-to-back (the driver harness runs 50+).

    Ownership TRANSFERS through composition: if a frame in ``frames``
    itself owns caches (it came from an operator that called
    own_caches), those move to ``result`` and the intermediate's own
    finalizer becomes a no-op — a wrapper plan dying early inside a
    composing operator (e.g. the candidate frame inside
    lsh-then-verify) can then never release a cache the final plan
    still needs. Its localCheckpoints are SHARED instead: ``result``
    becomes one more owner (see own_local_checkpoint). For plain
    persists this is a perf knob, never correctness (a released plan
    silently recomputes); for inherited CHECKPOINTS it is load-
    bearing."""
    owned, ckpts = _owner_lists(result)
    for f in frames:
        inherited = getattr(f, "_owned_caches", None)
        if inherited:
            owned.extend(inherited)
            inherited.clear()
        ckpts.extend(getattr(f, "_owned_ckpts", None) or ())
        lvl = f.storageLevel
        if lvl.useMemory or lvl.useDisk:
            owned.append(f)
    return result


def release_local_checkpoint(jdf) -> None:
    """Deterministically free a ``localCheckpoint(eager=True)``
    DataFrame's cached blocks. Spark only releases checkpoint RDDs via
    the ContextCleaner when the JVM object is garbage-collected — in a
    tight iterative loop (label propagation) that lets every round's
    blocks pile up in the block manager for an unbounded while. The
    checkpointed RDD is reachable through the plan's LogicalRDD node;
    unpersisting it drops the blocks NOW.

    Takes the py4j ``_jdf`` (not the Python DataFrame) so a
    weakref.finalize on the consuming result can hold it without
    keeping the whole Python object graph alive. After release the
    frame is NOT recomputable (checkpointing truncated its lineage) —
    only call on frames no plan will read again."""
    try:
        jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # plan shape changed or session gone — best-effort
        pass


def own_local_checkpoint(result, checkpointed: DataFrame, *co_owners):
    """Tie a ``localCheckpoint(eager=True)`` frame's blocks to the
    lifetime of ``result`` and every object in ``co_owners``
    (DataFrames, or a fitted model whose summary reads the frame), in
    the way ``own_caches`` does for persists: once ALL of them have
    been collected, the checkpoint RDD is unpersisted immediately
    instead of waiting for the JVM ContextCleaner to notice the dead
    reference (which can take until the next full GC in a long-lived
    driver session).

    Sharper contract than plain persists: a released CHECKPOINT cannot
    recompute (lineage truncated), so every object a caller may still
    read through must be an owner, and a composing operator that
    derives a new plan from ``result`` and drops it must pass
    ``result`` to ``own_caches(final, result)``, which makes ``final``
    an owner too. The owners hold only a lease on the py4j ``_jdf``,
    so the release does not keep the Python plan graph alive.
    Returns ``result``."""
    lease = _CheckpointLease(checkpointed._jdf)
    for owner in (result, *co_owners):
        _owner_lists(owner)[1].append(lease)
    return result


def repartition_for_compute(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round small inputs up to cluster parallelism before expression-
    heavy per-row work (hashing, shingling).

    A 15 MB parquet file arrives as ONE split (`maxPartitionBytes`),
    which serializes minutes of per-row hashing onto a single core. At
    real scale inputs have many splits and this is a no-op; locally it
    is the difference between 1× and 32× CPU. The round-robin shuffle
    it inserts moves only the small input once, before the expensive
    projection."""
    if df.isStreaming:  # partitioning is the source's concern per micro-batch
        return df
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # Estimate the scan's split count from optimizer statistics instead
    # of df.rdd.getNumPartitions(): touching .rdd forces full PHYSICAL
    # planning (and codegen) per call, measurable at interactive scale;
    # stats().sizeInBytes comes from the analyzed/optimized plan only
    # (file-listing sizes for file sources, row estimates otherwise).
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_bytes = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
            )
        )
        est_splits = max(1, -(-size // max_bytes))
    except Exception:  # non-SQL plan or py4j shape change: assume small
        est_splits = 1
    if est_splits < target:
        return df.repartition(target)
    return df


def hof_bind(expr, body):
    """Evaluate ``expr`` ONCE per row and hand it to ``body`` as a
    higher-order-function LAMBDA VARIABLE:
    ``element_at(transform(array(expr), x -> body(x)), 1)``.

    The HOF-barrier lesson (SCALE.md §7o-r9 addendum, found by
    thread-dumping a wedged 1M index build): higher-order functions
    run on the INTERPRETED expression path, where a composed input
    expression — one the caller spliced into the lambda body as a
    Column, or one CollapseProject inlined from an adjacent
    projection — is RE-EVALUATED on every lambda element that reads
    it. Composing `encode(unit(v))` therefore re-derives the full
    unit transform per output code dimension (d² work per row, d³
    when the norm fold is inlined too). A lambda VARIABLE, by
    contrast, is a bound VALUE: the outer transform here evaluates
    its one-element input array once, and every read of ``x`` inside
    ``body`` is an O(1) variable lookup. Plan-level barriers
    (Exchange, Generate, a persisted frame) achieve the same thing
    between OPERATORS; this is the expression-level form for when no
    such barrier exists or inserting one would add a shuffle.

    Bit-identical by construction — same scalar arithmetic, only the
    evaluation COUNT changes (the idiom t16's top-bigram scan has
    used since round 6; `element_at` on the `transform` result is not
    subject to the `element_at(array(...), i)` constant-fold rewrite,
    so the optimizer cannot undo the binding)."""
    from pyspark.sql import functions as F

    return F.element_at(F.transform(F.array(expr), body), 1)


def fit_released(estimator, dataset: DataFrame):
    """Fit an MLlib estimator with OUR persistence handle. Estimators
    cache an uncached input internally (handlePersistence) and release
    it on paths that can outlive the fit in a long-lived session
    (observed: LR's sampled train split and KMeans' feature projection
    still cached after a 110-query registry sweep). Persisting the
    input first makes MLlib skip its internal cache entirely, and the
    finally puts the release on OUR exit path.

    A dataset the CALLER already persisted is used as-is: the caller
    owns that handle (unpersisting here would silently drop a cache
    the caller created for post-fit transforms)."""
    lvl = dataset.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return estimator.fit(dataset)
    dataset = dataset.persist()
    try:
        return estimator.fit(dataset)
    finally:
        dataset.unpersist(blocking=False)


def double_array_literal(values):
    """A double-array literal built with ONE py4j call: the values are
    rendered as a SQL ``array(...)`` string (``repr`` is the shortest
    round-trip form, and ``Double.parseDouble`` reads it back to the
    IDENTICAL IEEE double — measured bit-equal against the
    ``F.array(F.lit(...))`` tree) and parsed JVM-side by ``F.expr``.
    The element-wise construction costs one py4j round trip PER
    LITERAL — at an index-artifact's size that is the cold-process
    serve latency: a 1000-cell × 64-dim centroid table measured
    24.3 s element-wise vs 0.15 s as one parse (round 8; the py4j
    construction-cost lesson, PERF.md round 4, removed at the SOURCE
    instead of only memoized away — the session memo still sits on
    top so repeat consumers pay neither). Non-finite values (never
    produced by the index fits) fall back to the element-wise tree,
    whose Literal carries them exactly."""
    import math

    from pyspark.sql import functions as F

    vals = [float(x) for x in values]
    if all(map(math.isfinite, vals)):
        return F.expr("array(" + ",".join(f"{x!r}D" for x in vals) + ")")
    return F.array(*[F.lit(x) for x in vals])


def double_matrix_literal(rows):
    """`double_array_literal` one level up: array<array<double>> in
    one ``F.expr`` parse (the centroid-table / PCA-weights shape)."""
    import math

    from pyspark.sql import functions as F

    mat = [[float(x) for x in r] for r in rows]
    if all(math.isfinite(x) for r in mat for x in r):
        return F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(f"{x!r}D" for x in r) + ")" for r in mat
            )
            + ")"
        )
    return F.array(*[F.array(*[F.lit(x) for x in r]) for r in mat])


def run_overlapped(*thunks):
    """Run independent job-submitting thunks from a driver thread pool
    so one job's straggler tail back-fills with the next job's tasks
    (guide §2.6 — the s35/s45/s47 build-overlap pattern, round 13).
    ONLY for thunks whose Spark actions are pairwise independent AND
    write disjoint artifacts: concurrent writes into one directory
    share the FileOutputCommitter staging dir (the s18 hazard — a
    correctness bug, not a tuning choice). Each thunk is wrapped with
    `pyspark.util.inheritable_thread_target` so JVM thread-local job
    properties (job group/description, scheduler pool) propagate to
    the worker threads under pinned-thread mode (ADVICE r13) — job
    attribution and group cancellation keep working. Returns results
    in thunk order; the first exception propagates after every thunk
    has finished (no artifact is left mid-write by a sibling's
    failure)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(inheritable_thread_target(t)) for t in thunks]
        done = [(f, None) for f in futs]
        results, first_err = [], None
        for f, _ in done:
            try:
                results.append(f.result())
            except BaseException as e:  # keep draining: siblings finish
                if first_err is None:
                    first_err = e
                results.append(None)
        if first_err is not None:
            raise first_err
        return results


def local_rows_df(spark, rows: list, schema: str) -> DataFrame:
    """DataFrame from a small DRIVER-side row list (index artifacts:
    centroid tables, BPE merge lists, vocabularies) as a SINGLE
    python-RDD partition. The default ``spark.createDataFrame(rows)``
    spreads the list over ``defaultParallelism`` python-RDD slices,
    and every job over it then pays one Python-worker round trip PER
    SLICE — measured 2-7 s for a 44-row centroid table on local[32]
    (the py4j/worker construction-cost lesson, PERF.md round 4) vs
    ~0.25 s with one slice. Driver-sized inputs only: one partition
    is the point."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


#: One lock for both memo maps. Concurrent-query drivers (thread-pool
#: schedulers over one SparkSession) can miss on the same key at once;
#: without the lock the loser's persisted frame was silently
#: overwritten in the dict and its blocks leaked until
#: release_memoized_frames() (ADVICE r5). build() runs OUTSIDE the
#: lock (it is py4j-heavy, seconds for index frames); the insert
#: re-checks under the lock and the loser unpersists its own frame.
_MEMO_LOCK = threading.Lock()


#: Per-path fingerprint cache with a short TTL (ADVICE r6): the
#: recursive walk used to run on EVERY memo access, including hits —
#: on an append-accreted index codes dir (one file per touched cell
#: per nightly shard) that is hundreds of driver stat calls per
#: serve, the very per-invocation cost the memo exists to remove.
#: Entries: path → (monotonic_at, fp). The engine's OWN write paths
#: (publish_parquet_atomic, compact_parquet, compact_ivfsq_index,
#: and every prime_memoized_literal) invalidate eagerly, so
#: engine-made overwrites are seen immediately; a FOREIGN writer
#: (another process regenerating testdata) is seen after at most
#: ``_FP_TTL_S``. Bounded; cleared wholesale past the cap (a perf
#: knob, never correctness — a dropped entry just re-walks).
#: The TTL is tunable via $SPARK_GRAFT_FP_TTL_S (ADVICE r7): a
#: deployment whose corpus directories are overwritten by a FOREIGN
#: process mid-session (bench alongside a testdata regenerator) can
#: shrink the staleness window toward 0 (every memo access re-walks),
#: or raise it when sources are immutable. Read once at import — the
#: window is a process-wide contract, not a per-call knob.
_FP_CACHE: dict = {}
_FP_LOCK = threading.Lock()
_FP_TTL_S = float(os.environ.get("SPARK_GRAFT_FP_TTL_S", "2.0"))
_FP_CACHE_MAX = 512


def invalidate_path_fingerprints(prefix: str | None = None) -> None:
    """Drop cached path fingerprints — every path when ``prefix`` is
    None, else exactly the cached paths equal to or under ``prefix``.
    The engine's write paths call this right after mutating a
    directory so their own overwrites bypass the TTL window."""
    with _FP_LOCK:
        if prefix is None:
            _FP_CACHE.clear()
            return
        for p in [p for p in _FP_CACHE if p == prefix or p.startswith(prefix.rstrip("/") + "/")]:
            del _FP_CACHE[p]


def _fp_of_path(p: str):
    """(file count, total bytes, max mtime_ns) for ``p`` from a
    recursive walk, served from ``_FP_CACHE`` within ``_FP_TTL_S``."""
    now = time.monotonic()
    with _FP_LOCK:
        ent = _FP_CACHE.get(p)
        if ent is not None and now - ent[0] < _FP_TTL_S:
            return ent[1]
    if not os.path.exists(p):
        fp = ("absent",)
    elif os.path.isfile(p):
        st = os.stat(p)
        fp = (1, st.st_size, st.st_mtime_ns)
    else:
        n = size = mt = 0
        for dp, _, fs in os.walk(p):
            for f in fs:
                try:
                    st = os.stat(os.path.join(dp, f))
                except OSError:  # racing a writer's rename
                    continue
                n += 1
                size += st.st_size
                mt = max(mt, st.st_mtime_ns)
        fp = (n, size, mt)
    with _FP_LOCK:
        if len(_FP_CACHE) >= _FP_CACHE_MAX:
            _FP_CACHE.clear()
        _FP_CACHE[p] = (now, fp)
    return fp


def _abs_path_elements(key: tuple) -> list:
    """Every absolute-path string element of a (nested) memo key."""
    out = []

    def scan(obj) -> None:
        if isinstance(obj, str) and os.path.isabs(obj):
            out.append(obj)
        elif isinstance(obj, tuple):
            for el in obj:
                scan(el)

    scan(key)
    return out


def _source_fingerprint(key: tuple):
    """Cheap content identity for every ABSOLUTE path element of a
    memo ``key``: per path, (file count, total bytes, max mtime_ns)
    from a recursive walk (missing path → a "absent" marker, so a
    path that appears later invalidates too), cached per path for
    ``_FP_TTL_S`` (see ``_FP_CACHE``). Folded into every memo
    hit/insert so an in-session overwrite of a corpus or index
    directory is SEEN — the memo serves stale frames on path identity
    alone otherwise (VERDICT r5 #5 / ADVICE r5). Driver-side stat
    calls only; on an object store swap the walk for one listing call
    — the contract (identity = path + content fingerprint) is
    unchanged. GRANULARITY CAVEAT (ADVICE r6): this is a freshness
    heuristic, not a checksum — a foreign overwrite that preserves
    file count and total bytes within the filesystem's mtime
    resolution (or lands inside the TTL window) can alias. The
    engine's own writers invalidate eagerly, so the caveat applies
    only to out-of-band writers racing a live session."""
    return tuple(_fp_of_path(p) for p in _abs_path_elements(key))


#: Session-scoped memo for expensive literal-Column construction.
#: Building a literal array column costs one py4j round trip PER
#: ELEMENT; index-artifact literals (hyperplanes, centroids, PQ
#: codebooks, SQ stats) are ~1-4k elements and were being rebuilt on
#: every query invocation — measured as SECONDS of driver-side
#: DataFrame construction (PERF.md, s03 breakdown). Keyed by
#: applicationId so a Column from a stopped session is never reused;
#: values stored as (source_fingerprint, value) so a mutated source
#: path invalidates (see _source_fingerprint).
_LITERAL_MEMO: dict = {}


#: Live-session entry bound: distinct keys accumulate per corpus /
#: config (centroids, quantizer stats, codebooks); past this many the
#: session's own entries are dropped and rebuilt on demand (one py4j
#: construction each — the memo is a perf knob, never correctness).
_LITERAL_MEMO_MAX = 256


def memoized_literal(key: tuple, build):
    """Return ``build()``, memoized per (live session, ``key``,
    source content). ``key`` must fully determine the constructed
    expression (include every value folded into the literal); any
    ABSOLUTE path element additionally contributes a content
    fingerprint, so regenerating testdata or rebuilding an index
    in-session invalidates rather than serving a stale constant.
    Eviction is precise: on a miss, entries from OTHER applicationIds
    are dropped (their JVM-backed Column handles belong to stopped
    sessions), never the live session's; the live session is
    separately bounded at ``_LITERAL_MEMO_MAX`` entries so a
    long-lived driver running many corpora cannot accumulate Column
    handles unboundedly. Thread-safe; build() runs outside the lock
    (first concurrent caller to insert wins)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    k = (app, key)
    fp = _source_fingerprint(key)
    with _MEMO_LOCK:
        ent = _LITERAL_MEMO.get(k)
        if ent is not None and ent[0] == fp:
            return ent[1]
        if ent is not None:
            del _LITERAL_MEMO[k]  # source mutated: stale constant
        for kk in [kk for kk in _LITERAL_MEMO if kk[0] != app]:
            del _LITERAL_MEMO[kk]  # dead-session handles only
        if sum(1 for kk in _LITERAL_MEMO if kk[0] == app) >= _LITERAL_MEMO_MAX:
            _LITERAL_MEMO.clear()
    hit = build()
    with _MEMO_LOCK:
        ent = _LITERAL_MEMO.get(k)
        if ent is not None and ent[0] == fp:
            return ent[1]  # a concurrent builder won the insert
        _LITERAL_MEMO[k] = (fp, hit)
    return hit


#: Session-scoped PERSISTED-DataFrame cache — the memoized_literal
#: idea one level up (VERDICT r4 #4): index-shaped corpus frames
#: (the multi-table LSH bucket assignment) are identical across every
#: consumer in a session (s03/s06/s11/s12 at ~3.5 s/rebuild at sf0.1)
#: and a deployment computes them ONCE per corpus, not once per
#: query. Unlike own_caches frames these deliberately outlive any one
#: result — they are the in-session analogue of the on-disk persisted
#: ANN index (s13) — so they are bounded, applicationId-keyed, and
#: explicitly releasable (tests that assert zero cached RDDs call
#: release_memoized_frames() first).
_FRAME_MEMO: dict = {}

#: Live-session entry bound: one entry per (corpus, index config);
#: past this the oldest live entry is unpersisted and rebuilt on
#: demand (a perf knob, never correctness — a dropped frame silently
#: recomputes). Sized to hold the full registered index family for
#: one corpus directory (LSH buckets + query probes, IVF assign +
#: query side, SQ/PQ codes, MinHash banded, neardup bucket index,
#: unigram LM ≈ 9 keys) with headroom — every frame is narrow
#: (ids + short keys/codes), never document bodies or raw vectors
#: beyond the ivf assignment's.
_FRAME_MEMO_MAX = 16


#: Per-key build-in-progress events: concurrent MISSES on the same
#: key serialize on the first thread's build instead of racing
#: duplicate builds. The round-6 hardening replaced the earlier
#: build-then-loser-unpersists design after it intermittently leaked
#: a cache entry under a 4-thread race: Spark's CacheManager keys
#: entries by ANALYZED PLAN, so a loser's unpersist could silently
#: drop the WINNER's entry (shared plan), and hit-path re-persists
#: interleaved with loser unpersists could create entries no handle
#: tracked. With one builder per key, persist/unpersist calls for a
#: plan strictly alternate and nothing races — and concurrent missers
#: no longer burn a duplicate build.
_KEY_BUILDING: dict = {}


def memoized_frame(key: tuple, build) -> DataFrame:
    """Return ``build()`` persisted, memoized per (live session,
    ``key``, source content). ``key`` must fully determine the
    frame's CONTENT — include the corpus identity (source path +
    filter fingerprint) and every config folded into the plan; any
    ABSOLUTE path element additionally contributes a content
    fingerprint (`_source_fingerprint`), so overwriting a corpus
    parquet mid-session is SEEN: the stale frame is unpersisted and
    rebuilt from the new files (VERDICT r5 #5). An external
    ``spark.catalog.clearCache()`` (the bench harness does this
    between passes) drops the cached blocks but not the memo entry;
    the next hit re-registers the persist and the first consumer pays
    one honest rebuild. Results are identical with or without the
    memo (asserted in tests/test_cache_hygiene.py). Thread-safe:
    build() runs outside the lock; concurrent misses on the same key
    WAIT for the first builder (one build, one persist — see
    _KEY_BUILDING) instead of racing duplicates (ADVICE r5, hardened
    round 6)."""
    import threading

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    k = (app, key)
    fp = _source_fingerprint(key)
    while True:
        with _MEMO_LOCK:
            ent = _FRAME_MEMO.get(k)
            if ent is not None:
                fp0, hit = ent
                if fp0 == fp:
                    lvl = hit.storageLevel
                    if not (lvl.useMemory or lvl.useDisk):
                        hit.persist()  # clearCache() dropped it — re-register
                    return hit
                _FRAME_MEMO.pop(k)  # source mutated: stale frame
                try:
                    hit.unpersist(blocking=False)
                except Exception:
                    pass
            for kk in [kk for kk in _FRAME_MEMO if kk[0] != app]:
                _FRAME_MEMO.pop(kk)  # dead-session handles only
            ev = _KEY_BUILDING.get(k)
            if ev is None:
                ev = _KEY_BUILDING[k] = threading.Event()
                break  # this thread builds
        # Another thread is building this key: wait for it, then
        # re-read the memo (hit in the common case; if the builder
        # failed, the next waiter through the lock becomes builder).
        ev.wait(timeout=600)
    try:
        built = build().persist()
        with _MEMO_LOCK:
            live = [kk for kk in _FRAME_MEMO if kk[0] == app]
            if len(live) >= _FRAME_MEMO_MAX:
                try:
                    _FRAME_MEMO.pop(live[0])[1].unpersist(blocking=False)
                except Exception:
                    pass
            _FRAME_MEMO[k] = (fp, built)
        return built
    finally:
        with _MEMO_LOCK:
            _KEY_BUILDING.pop(k, None)
        ev.set()


def prime_memoized_literal(key: tuple, value) -> None:
    """OVERWRITE the (live session, ``key``) memo entry with a value
    the caller just computed/wrote — unlike `memoized_literal`'s
    miss-populate, priming replaces any stale entry (an index REBUILD
    at the same path must not leave the old sidecar cached). The
    source fingerprint is taken NOW (the caller just finished
    writing), so a later foreign overwrite of the same path makes
    `peek_memoized_literal` miss and the reader falls back to disk."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    # The caller JUST wrote these paths: the fingerprint stored with
    # the primed value must be post-write, not a TTL-cached pre-write
    # one (a stale stored fp would make every later peek miss — the
    # append-path regression shape, PERF.md round 6).
    for p in _abs_path_elements(key):
        invalidate_path_fingerprints(p)
    fp = _source_fingerprint(key)
    with _MEMO_LOCK:
        _LITERAL_MEMO[(app, key)] = (fp, value)


def peek_memoized_literal(key: tuple):
    """The (live session, ``key``) memo entry, or None — no build, no
    populate. For read paths that may consult a primed artifact but
    must NOT cache a disk read themselves (the disk is the source of
    truth when nothing primed it this session, or when the path's
    content changed since priming)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    with _MEMO_LOCK:
        ent = _LITERAL_MEMO.get((app, key))
    if ent is None or ent[0] != _source_fingerprint(key):
        return None
    return ent[1]


def release_memoized_frames() -> None:
    """Unpersist and drop every memoized frame (all sessions). Tests
    that assert an empty RDD-storage map call this first; a long-lived
    driver may call it to return to a zero-cache baseline."""
    with _MEMO_LOCK:
        entries = [_FRAME_MEMO.pop(kk) for kk in list(_FRAME_MEMO)]
    for _, frame in entries:
        try:
            frame.unpersist(blocking=False)
        except Exception:
            pass
