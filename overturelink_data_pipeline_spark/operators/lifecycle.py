"""Incremental-index lifecycle API — the production surface for the
monthly-release maintenance story the tests pin.

The three incremental dedup modalities (exact shingles → MinHash/LSH
signatures → embedding cells; dedup.py / similarity.py) share one
lifecycle:

    release time   build(corpus)   — one-off heavy pass, persisted as
                                     BUCKETED tables (the exchange paid
                                     once, at write)
    monthly        probe(crawl)    — cost ∝ crawl, index side moves
                                     zero bytes (bucket layout satisfies
                                     the join/cogroup clustering)
                   append(crawl)   — admit the crawl into the index by
                                     APPENDING rows under the same
                                     bucket spec; append-equals-rebuild
                                     is pinned for all three modes
                                     (tests/test_round7_ops.py,
                                     tests/test_round8_ops.py,
                                     tests/test_lifecycle_api.py)

The two text indexes, PostingIndex (shingle postings) and BandIndex
(MinHash band rows), are one implementation: the private base
``_CountSidecarIndex`` holds exists/build/append/compact/drop, the
count-sidecar write, the guard + generation-max pre-flight and the
prepare_probe/probe census merge. A subclass names its key columns and
supplies the key rows, the per-doc sidecar frame and the pair
finisher. SemanticRelease keeps its own, simpler lifecycle (one table
plus frozen centroids, no count sidecar). Design rules at the 100 TB
point:

- **Sidecar count tables, not recomputed censuses.** Skew guards
  (shingle df caps, LSH bucket caps) need per-key counts over the
  CURRENT index. Storing only the over-cap key list would make appends
  require a full recount; storing per-key counts bucketed BY THE KEY
  makes maintenance a row append and the current count a
  partition-local SUM — no corpus-wide exchange ever again.
- **Same bucket spec on every append** (``insertInto`` semantics via
  ``mode("append").saveAsTable``): new files land in the same bucket
  layout, so probes stay exchange-free on the index side.
- **The probe never trusts the stored census alone**: the crawl's own
  keys are merged in (a crawl can push a key over the cap), so probe
  results equal a from-scratch rebuild over (index ∪ crawl) — the
  pinned property.

Reference analog: SURVEY.md §2 S4–S6's cache-then-refilter lifecycle,
lifted from per-country GeoParquet caches to dedup indexes.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from overturelink_data_pipeline_spark.operators.dedup import (
    BAND_BUCKET_CAP,
    NGRAM_DF_CAP,
    _band_table,
    _finish_probe,
    _fresh_persist,
    _gram_hashes,
    _hot_doc_arrays,
    _jaccard_verify,
    _probe_pair_counts,
    minhash_signatures_agg,
)

__all__ = [
    "PostingIndex",
    "BandIndex",
    "SemanticRelease",
    "PendingProbe",
    "release_current",
    "fingerprint_leg",
    "shingle_table",
    "process_index_name",
    "reap_dead_process_indexes",
]

#: Bucket count for the index tables. Sized for the test/bench corpora;
#: a real deployment picks buckets so each holds O(100 MB) AND gives
#: enough writer parallelism (see _bucket_aligned) — the knob is
#: per-index via the ``buckets`` build argument.
DEFAULT_BUCKETS = 16


def _bucket_aligned(df: DataFrame, buckets: int, *cols: str) -> DataFrame:
    """Repartition to EXACTLY the table's bucket partitioning before a
    bucketed write. Spark's V1 bucketed write never adds an exchange:
    every input task writes its own file for every bucket it holds
    rows for, so a 32-task frame × 16 buckets committed ~512 files PER
    WRITE — the r9 profile found 1,025 files under one posting table
    (two generations), and the file count, not the data, dominated
    build/append/probe wall at sf1. ``repartition(buckets, cols)``
    uses the same Murmur3-pmod HashPartitioning as the bucket
    assignment, so partition i holds exactly bucket i and each write
    lands ONE file per bucket. At 100 TB this is also the small-file
    guard (a month of appends × 512 files/write is an object-store
    listing pathology); writer parallelism == buckets, so deployments
    size ``buckets`` for both file size and write width."""
    return df.repartition(buckets, *[F.col(c) for c in cols])


def _tokenized(docs: DataFrame) -> DataFrame:
    """docs (doc_id, text) with ≥3 whitespace tokens, the tokens under
    ``toks`` — the input _gram_hashes() reads."""
    return docs.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+")).filter(
        F.size("toks") >= 3
    )


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, sh array<long>) — distinct 3-gram shingle hashes per
    doc with ≥3 tokens, via THE one shingle-hash definition
    (dedup._gram_hashes); docs: (doc_id, text)."""
    return _tokenized(docs).select(
        "doc_id", F.array_distinct(_gram_hashes()).alias("sh")
    )


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, h) exploded distinct shingle postings.

    INLINE explode(expr), never explode of the aliased ``sh`` column:
    InferFiltersFromGenerate substitutes an alias into the inferred
    size/isnotnull filter and pushes it below the materializing
    Project, where interpreted predicates have no CSE — O(tokens²)
    string work per doc on the scan side (the pinned r7 lesson;
    re-measured here: 7.0 s → sub-second for a 5 k-doc crawl at sf1)."""
    return _tokenized(docs).select(
        "doc_id", F.explode(F.array_distinct(_gram_hashes())).alias("h")
    )


def _drop(spark: SparkSession, *tables: str) -> None:
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _clean_orphan_location(spark: SparkSession, table: str) -> None:
    """Unblock a rebuild after a foreign/crashed process: the default
    session catalog is per-process, so a managed-table directory left
    in the warehouse by ANOTHER process (bench before driver, a killed
    build) raises LOCATION_ALREADY_EXISTS on CREATE even though this
    session's catalog has no such table. If the catalog doesn't know
    the table but its would-be location exists, delete the orphan —
    via the Hadoop FS API so the same code path works on HDFS/object
    stores, not just the local warehouse.

    PRECONDITION — no concurrent runs (ADVICE r9): "the catalog
    doesn't know it" only implies "orphan" while a single process owns
    the warehouse at a time. On a SHARED warehouse without a shared
    metastore, a directory this process's catalog lacks may be a LIVE
    table owned by a concurrently running process, and deleting it
    destroys that table. This repo's bench/driver protocol already
    serializes Spark runs (the same serialization the timing
    measurements require); a deployment that wants concurrency must
    use a shared metastore (then this helper never fires — the catalog
    knows the table) rather than relax this check. A recency guard
    (refuse if recently modified) was considered and rejected: it
    turns a correctness precondition into a timing race."""
    if spark.catalog.tableExists(table):
        return  # mode("overwrite") handles a REGISTERED table itself
    wh = spark.conf.get("spark.sql.warehouse.dir")
    path = spark._jvm.org.apache.hadoop.fs.Path(wh, table.lower())
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def process_index_name(base: str) -> str:
    """Per-PROCESS index namespace: ``{base}_p{pid}``.

    The default session catalog is per-process but the WAREHOUSE
    directory is shared, so two processes using the same index name
    race each other's table files: process B's ``_clean_orphan_location``
    (whose catalog cannot see A's live table) deletes the directory
    process A is scanning — exactly the ``FileNotFoundException`` under
    ``spark-warehouse/dlp_index_ns`` that killed the round-13 driver
    pytest gate (VERIFY_r13) and the builder's own concurrent plan-dump
    session before it. Keying the namespace by pid makes every
    process's release private: warm-path stamp skips still work across
    invocations WITHIN a process (same name, same catalog), and no
    process can ever read — or delete — another's live index. A real
    deployment with a shared metastore uses a stable name instead (the
    catalog then serializes ownership); this is the correct shape for
    the metastore-less local/default catalog only.
    """
    return f"{base}_p{os.getpid()}"


#: A top-level warehouse entry of a per-process index: a table
#: directory ``{base}_p{pid}_{suffix}``, the ``{base}_p{pid}_stamp``
#: sidecar file, or its hidden ``.{base}_p{pid}_stamp.crc`` checksum.
_PID_INDEX_ENTRY = re.compile(r"^\.?(?P<base>.+)_p(?P<pid>\d+)_[a-z_]+(?:\.crc)?$")
_REAPED: set[str] = set()


def reap_dead_process_indexes(spark: SparkSession, base: str) -> None:
    """Best-effort GC for ``{base}_p{pid}_*`` warehouse entries (table
    directories, stamp files and their ``.crc`` twins) left by DEAD
    processes (once per process per base — driver-side listdir, zero
    Spark jobs). An entry is deleted only when its embedded pid
    provably no longer exists (``os.kill(pid, 0)`` → ESRCH); a live or
    unverifiable pid is left alone, so a concurrently running process's
    index is never touched — the deletion race this namespace exists to
    prevent. A stale stamp of a dead pid that a new process reuses can
    never cause a wrong skip: ``exists()`` consults this process's own
    catalog, which holds none of the dead process's tables. Remote
    warehouses are skipped: deployments own their GC."""
    if base in _REAPED:
        return
    _REAPED.add(base)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(wh)
    if parsed.scheme not in ("file", ""):
        return
    root = unquote(parsed.path) if parsed.scheme else wh
    try:
        entries = os.listdir(root)
    except OSError:
        return
    me = os.getpid()
    for d in entries:
        m = _PID_INDEX_ENTRY.match(d)
        if not m or m.group("base") != base.lower():
            continue
        pid = int(m.group("pid"))
        if pid == me:
            # A dead predecessor that ran under this recycled pid left
            # entries that look like ours. They stay until this
            # process's own rebuild clears them (_clean_orphan_location).
            # That is leftover garbage only, never a wrong skip: exists()
            # reads this process's in-memory catalog, not these files.
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            path = os.path.join(root, d)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.remove(path)
                except OSError:
                    pass
        except Exception:
            continue


def _stamp_file(spark: SparkSession, name: str):
    """(path, fs) of the release-stamp SIDECAR FILE for index ``name``
    — next to the index tables in the warehouse, via the Hadoop FS API
    so the same code path works on HDFS/object stores."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    path = spark._jvm.org.apache.hadoop.fs.Path(wh, f"{name.lower()}_stamp")
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return path, fs


def release_stamp(spark: SparkSession, name: str) -> str | None:
    """The stored release stamp for index ``name`` (None if absent).
    Together with write_release_stamp this makes release maintenance
    IDEMPOTENT: a monthly job computes a cheap corpus fingerprint,
    compares it to the stamp, and skips the build/append entirely when
    the release is already current — re-running a crashed or retried
    orchestration never rebuilds a 100 TB index that is already there.
    The stamp is written LAST (after every index write), so a job that
    died mid-build leaves a stale/absent stamp and the retry rebuilds.

    Storage (r14): a sidecar FILE in the warehouse, not a 1-row
    catalog table — the table write was the single most expensive job
    of the registered query's cold path (0.74 s for one row: write +
    commit + catalog), and the warm path paid a scan leg to read it
    back; the file is a driver-side FS op both ways, zero Spark jobs
    (the sources/cache.py sidecar-meta precedent). Durability is
    unchanged: same storage as the tables, written last, and a partial
    write reads as absent (readUTF raises → None → rebuild)."""
    path, fs = _stamp_file(spark, name)
    try:
        if not fs.exists(path):
            return None
        stream = fs.open(path)
        try:
            return stream.readUTF()
        finally:
            stream.close()
    except Exception:
        return None  # unreadable/partial stamp → not current → rebuild


def write_release_stamp(spark: SparkSession, name: str, stamp: str) -> None:
    path, fs = _stamp_file(spark, name)
    out = fs.create(path, True)
    try:
        out.writeUTF(stamp)
    finally:
        out.close()


def corpus_fingerprint(docs: DataFrame, *cols: str) -> str:
    """Order-insensitive corpus fingerprint for release stamps: row
    count + a SUM of per-row xxhash64 over ``cols`` — one cheap scan,
    collision-resistant enough to distinguish releases (a 64-bit sum
    over distinct row hashes), and computable identically at any
    scale.

    The stamp sees EXACTLY ``cols`` (ADVICE r9): a fingerprint over
    metadata columns only — e.g. ``(doc_id, n_chars, source)`` — is
    CONTENT-BLIND: an in-place text edit that preserves ids and
    lengths yields an identical stamp and the idempotence skip then
    probes a stale index. Include the content column (or a
    precomputed content hash) whenever in-place mutation is possible:
    ``corpus_fingerprint(docs, "doc_id", "text")`` — xxhash64 streams
    the column, so the cost is one read of the text bytes, not a
    shuffle. Metadata-only stamps are valid only under an
    append-only/immutable-doc contract where (id, length) uniquely
    tracks content; callers choosing that trade must say so (the
    registered dedup_lifecycle_probe does, in its docstring)."""
    return fingerprint_leg(docs, cols).first()["id"]


def _fingerprint_agg(docs: DataFrame, cols) -> DataFrame:
    """The 1-row ``(n, hs)`` corpus-fingerprint aggregate — the ONE
    implementation behind corpus_fingerprint, release_current, and
    fingerprint_leg (three hand-rolled copies drifted apart would
    silently rebuild every run or skip a needed rebuild; review r10).

    DECIMAL(38,0) accumulator: a SUM over int64 hashes overflows long
    almost immediately and ANSI mode (the driver session default)
    turns that into ARITHMETIC_OVERFLOW; 38 digits hold the exact sum
    to ~1e19 rows. An empty corpus sums to 0, not NULL, so its stamp
    renders as ``v1:0:0`` rather than vanishing in the concat."""
    return docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("hs"),
    )


def fingerprint_leg(docs: DataFrame, cols, kind: str = "fp") -> DataFrame:
    """corpus_fingerprint as a 1-row ``(kind, num, id)`` leg for a
    _preflight_frame union — the stamp string lands under ``id`` so a
    warm caller's idempotence check rides the probe's single pre-flight
    collect instead of paying its own driver action. The one rendering
    of a stamp: corpus_fingerprint and release_current read it back
    from ``id``."""
    return _fingerprint_agg(docs, cols).select(
        F.lit(kind).alias("kind"),
        F.lit(None).cast("long").alias("num"),
        F.concat(
            F.lit("v1:"), F.col("n").cast("string"),
            F.lit(":"), F.col("hs").cast("string"),
        ).alias("id"),
    )


def release_current(
    spark: SparkSession, name: str, docs: DataFrame, *cols: str
) -> tuple[str, bool]:
    """``(fingerprint, is_current)`` in ONE Spark job (r10 warm-path
    shave, VERDICT r9 ask #4): the corpus-fingerprint aggregate is the
    only job; the stored stamp is a driver-side sidecar-file read
    (release_stamp — free since r14, previously a 1-row table fold).
    Fingerprint column choice: see corpus_fingerprint's
    content-blindness note."""
    stored = release_stamp(spark, name)
    stamp = corpus_fingerprint(docs, *cols)
    return stamp, stored is not None and stored == stamp


def _assert_disjoint(stored: DataFrame, incoming: DataFrame, key: str, what: str) -> None:
    """Admission guard (ADVICE r8): every lifecycle invariant — the ns
    union IS the full-corpus count, the shingle/assigned tables hold one
    row per doc — holds only while appended id sets are DISJOINT from
    the stored index. A retried monthly job or an overlapping crawl
    would silently duplicate sidecar rows and corrupt Jaccard
    denominators, so overlap is an error, not a merge.

    Cost: one broadcast semi-join of the (crawl-bounded) incoming ids
    against the stored table — the stored side never exchanges (the
    sidecars are bucketed by the key; the semi-join is a pruned scan).
    The probe paths don't even pay that as a separate action: they
    union _clash_frame into the census short-circuit and collect both
    in one job (r10 warm-path shave)."""
    clash = _clash_frame(stored, incoming, key).collect()
    if clash:
        _raise_overlap(sorted(r[key] for r in clash), key, what)


def _clash_frame(stored: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """≤5 overlapping ``key`` values between a stored table and an
    incoming crawl (semi-join, broadcast crawl side) — the lazy half of
    _assert_disjoint, so callers can fold the guard into another
    driver action."""
    return (
        stored.select(key)
        .join(F.broadcast(incoming.select(key).dropDuplicates([key])), key, "semi")
        .limit(5)
    )


def _raise_overlap(ids: list, key: str, what: str) -> None:
    raise ValueError(
        f"{what}: incoming {key}s overlap the stored index "
        f"(e.g. {ids}) — lifecycle appends must be disjoint; "
        "re-appending a crawl would duplicate sidecar rows and "
        "corrupt counts. Deduplicate or re-key the crawl first."
    )


#: Table-property key holding the stored-census upper bound on a count
#: sidecar (see _preflight_verdict).
_UB_PROP = "overturelink.ub"


def _write_ub(spark: SparkSession, table: str, ub: int) -> None:
    """Persist the stored-census upper bound as a TABLE PROPERTY on the
    count sidecar — catalog metadata, zero Spark jobs (an earlier r10
    cut used a separate 1-row stats table: two write jobs per
    build/append plus a read leg per probe, ~1 s of pure maintenance on
    the cold path — the bench_diff regression that prompted this).
    Durability matches the index itself: the in-memory catalog loses
    properties with the process exactly when it loses the tables (a
    fresh process rebuilds anyway); a shared metastore persists them
    with the table."""
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES('{_UB_PROP}'='{int(ub)}')")


def _read_ub(spark: SparkSession, table: str) -> int | None:
    """The persisted upper bound, or None when the property is absent
    (an index built by pre-r10 code) — callers then take the exact
    path, so a missing bound only costs time, never correctness.
    Driver-only catalog lookup, no job."""
    if not spark.catalog.tableExists(table):
        return None
    for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
        if r["key"] == _UB_PROP:
            return int(r["value"])
    return None


def _exact_max(
    spark: SparkSession, sidecar: str, keys: list[str],
    generation: DataFrame | None = None,
) -> int:
    """Max merged per-key count: of one generation's rows (postings /
    band rows — each row counts 1) when ``generation`` is given, else
    of the whole stored count sidecar (SUM of its per-append rows,
    partition-local on the bucket layout)."""
    if generation is None:
        frame = spark.table(sidecar).groupBy(*keys).agg(F.sum("n").alias("n"))
    else:
        frame = generation.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    row = frame.agg(F.max("n")).first()
    return int(row[0]) if row and row[0] is not None else 0


def _settle_ub_after_append(idx, sidecar: str, keys: list[str], ub: int | None) -> None:
    """After the append's data writes landed: derive the exact bound if
    none was stored before (pre-r10 index — one bucket-local agg,
    maintenance-time), then run the bound-based auto-compact check."""
    if ub is None:
        ub = _exact_max(idx.spark, sidecar, keys)
        _write_ub(idx.spark, sidecar, ub)
    _auto_compact(idx, sidecar, ub)


def _auto_compact(idx, sidecar: str, ub: int) -> None:
    """Bound-based auto-compact — see
    PostingIndex.auto_compact_ub_frac for the rationale."""
    frac = idx.auto_compact_ub_frac
    if frac is None or ub <= idx.cap * frac:
        return
    idx.compact()
    if (_read_ub(idx.spark, sidecar) or 0) > idx.cap * frac:
        idx.auto_compact_ub_frac = None  # true max, not drift


def _preflight_frame(dmax: DataFrame, clash: DataFrame | None) -> DataFrame:
    """The probe's pre-flight as ONE lazy tagged-union frame
    ``(kind, num, id)`` (r10 warm shave, VERDICT r9 ask #4): the
    admission guard (≤5 overlap ids, kind='clash') and ``dmax`` — a
    1-row frame with the crawl's own per-key max under column ``num``
    — collect together in a single driver action. The stored-side
    UPPER BOUND ``ub`` is a table property read driver-side for free
    (_read_ub); _preflight_verdict combines them: every merged count
    is ≤ ub + dmax, so ``ub + dmax <= cap`` proves the hot set EMPTY
    without scanning or aggregating the stored count sidecar at all.
    Callers may union extra 1-row legs (distinct ``kind`` values) so
    their own decisions ride the same action."""
    checks = dmax.select(
        F.lit("dmax").alias("kind"),
        F.col("num").cast("long").alias("num"),
        F.lit(None).cast("string").alias("id"),
    )
    if clash is not None:
        checks = checks.unionByName(
            clash.select(
                F.lit("clash").alias("kind"),
                F.lit(None).cast("long").alias("num"),
                F.col(clash.columns[0]).cast("string").alias("id"),
            )
        )
    return checks


def _preflight_dmax(rows: list, key: str, what: str) -> int:
    """Consume collected _preflight_frame rows: raise on overlap,
    return the delta-side per-key max (0 for an empty delta). The one
    implementation behind both the probe verdict and the fused append
    preflight."""
    clash_ids = [r["id"] for r in rows if r["kind"] == "clash"]
    if clash_ids:
        # the union leg carries ids as strings; report them native so
        # the error matches _assert_disjoint's (numeric ids sort
        # numerically, not lexicographically)
        try:
            clash_ids = [int(v) for v in clash_ids]
        except (TypeError, ValueError):
            pass
        _raise_overlap(sorted(clash_ids), key, what)
    return next((r["num"] for r in rows if r["kind"] == "dmax"), None) or 0


def _preflight_verdict(
    rows: list, ub: int | None, cap: int, key: str, what: str
) -> bool:
    """Consume collected _preflight_frame rows + the driver-side ub:
    raise on overlap, return ``may_have_hot``. False skips the census
    merge entirely (the natural-corpus warm path); True — bound
    failed, bound property missing (pre-r10 index), or an over-cap
    crawl — sends the caller to the exact census merge, the pre-r10
    path, so the bound only ever SKIPS work, never changes the hot
    set. The ub is conservative: exact at build/compact/repair,
    ``+= max(delta counts)`` per append, so it only drifts upward —
    a skip is always sound."""
    dmx = _preflight_dmax(rows, key, what)
    return ub is None or ub + dmx > cap


@dataclass
class PendingProbe:
    """A probe split at its one driver action — see
    _CountSidecarIndex.prepare_probe. ``checks`` is lazy; ``finish``
    takes the rows collected from it (or from any union-extended
    version of it) and returns the result plan. ``_delta_rows`` are
    the crawl's persisted key rows, ``_delta_docs`` its per-doc
    sidecar frame."""

    _idx: "_CountSidecarIndex"
    _delta_rows: DataFrame
    _delta_docs: DataFrame
    checks: DataFrame
    _ub: int | None

    def finish(self, rows: list, tau: float = 0.5) -> DataFrame:
        return self._idx._finish_probe_plan(
            self._delta_rows, self._delta_docs, rows, self._ub, tau
        )


def _compact_counts(
    spark: SparkSession, table: str, keys: list[str], buckets: int
) -> None:
    """Rewrite a count sidecar as ONE row per key under the SAME bucket
    spec (VERDICT r8 ask #5): every append adds a row per key per crawl,
    so after many monthly appends the probe's bucket-local SUM scans
    rows ∝ appends×keys. The aggregation is partition-local on the
    bucket layout (groupBy ⊆ bucket keys), so compaction itself never
    exchanges; the rewrite goes through a temp table + catalog rename
    because Spark refuses to overwrite a table it is reading. The
    drop→rename window is the non-atomic step. Recovery (ADVICE r9,
    both crash scopes handled in code rather than by a docstring
    claim):

    - **Same-process retry** (an exception between DROP and RENAME):
      the catalog still knows ``{table}_compact_tmp`` but not
      ``table`` — the aggregated rows are complete, so finish the
      RENAME and return instead of failing at ``spark.table(table)``.
    - **Fresh process after a crash**: the per-process catalog knows
      NEITHER name, but the orphaned tmp *directory* survives in the
      warehouse where ``DROP TABLE IF EXISTS`` cannot see it, and any
      future compact would die with LOCATION_ALREADY_EXISTS. The
      ``_clean_orphan_location`` call below deletes it. (The index
      itself is equally catalog-invisible in that process — exists()
      is False and the caller rebuilds — so the orphan is never the
      only copy of live data.)"""
    tmp = f"{table}_compact_tmp"
    if spark.catalog.tableExists(tmp) and not spark.catalog.tableExists(table):
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        return
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    _clean_orphan_location(spark, tmp)
    agg = spark.table(table).groupBy(*keys).agg(F.sum("n").alias("n"))
    agg.write.bucketBy(buckets, *keys).mode("overwrite").saveAsTable(tmp)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")


class _CountSidecarIndex:
    """The build → append → probe lifecycle shared by PostingIndex and
    BandIndex. An index is three bucketed tables, named
    ``{name}_{suffix}`` after ``_suffixes``:

    - the KEY table: (doc_id, key columns ``_keys``) rows bucketed and
      sorted by the key — the probe joins it without moving it;
    - the DOC table: one row per doc, bucketed by doc_id — the per-doc
      side of the Jaccard verify;
    - the COUNT table: per-key row counts bucketed by the key — the
      skew-guard census. Each append adds one row per key, so a
      current count is a partition-local SUM; compact() folds it to one
      row per key. Its ``overturelink.ub`` table property bounds the
      largest merged count (see _preflight_verdict).

    A subclass supplies the names plus three hooks: ``_key_rows(docs)``
    (the key rows of a doc frame), ``_doc_frame(docs, key_rows)`` (the
    doc-table rows) and ``_pairs(index, delta, docs, hot, tau)`` (the
    result plan from the key rows with the hot keys, if any, still
    in). Build and append persist the key rows ONCE, already
    bucket-aligned, so all writes share one tokenize pass and each
    write lands one file per bucket; the writes run in sequence (key
    rows, doc rows, counts) and the drifted ub is written before them."""

    _suffixes: tuple[str, str, str]
    _keys: tuple[str, ...]

    @property
    def _key_table(self) -> str:
        return f"{self.name}_{self._suffixes[0]}"

    @property
    def _doc_table(self) -> str:
        return f"{self.name}_{self._suffixes[1]}"

    @property
    def _count_table(self) -> str:
        return f"{self.name}_{self._suffixes[2]}"

    def _tables(self) -> tuple[str, str, str]:
        return self._key_table, self._doc_table, self._count_table

    def _what(self, op: str) -> str:
        return f"{type(self).__name__}({self.name}).{op}"

    def exists(self) -> bool:
        """All index tables present in the catalog — the guard a
        stamped caller pairs with release_stamp before skipping a
        build (a matching stamp with dropped tables must rebuild)."""
        return all(self.spark.catalog.tableExists(t) for t in self._tables())

    def _count_keys(self, key_rows: DataFrame, alias: str = "n") -> DataFrame:
        return key_rows.groupBy(*self._keys).agg(F.count(F.lit(1)).alias(alias))

    def _clash(self, key_rows: DataFrame) -> DataFrame | None:
        # an overlapping crawl would duplicate doc-table rows and
        # corrupt every Jaccard denominator silently; the ≤5-row clash
        # frame rides the pre-flight collect
        if not self.guard_overlap:
            return None
        return _clash_frame(self.spark.table(self._doc_table), key_rows, "doc_id")

    def _persisted_key_rows(self, docs: DataFrame, stage: str) -> DataFrame:
        return _fresh_persist(
            f"{self.name}_{stage}_{self._suffixes[0]}",
            _bucket_aligned(self._key_rows(docs), self.buckets, *self._keys),
        )

    def _write(self, docs: DataFrame, key_rows: DataFrame, mode: str) -> None:
        key_rows.write.bucketBy(self.buckets, *self._keys).sortBy(*self._keys).mode(
            mode
        ).saveAsTable(self._key_table)
        self._write_docs(self._doc_frame(docs, key_rows), mode)
        self._write_counts(key_rows, mode)

    def _write_docs(self, frame: DataFrame, mode: str) -> None:
        _bucket_aligned(frame, self.buckets, "doc_id").write.bucketBy(
            self.buckets, "doc_id"
        ).mode(mode).saveAsTable(self._doc_table)

    def _write_counts(self, key_rows: DataFrame, mode: str) -> None:
        # partition-local + one file per bucket: ``key_rows`` is
        # key-aligned (the persisted build/append frame, or the
        # bucketed key table read in repair())
        self._count_keys(key_rows).write.bucketBy(self.buckets, *self._keys).mode(
            mode
        ).saveAsTable(self._count_table)

    def _tighten_ub(self) -> None:
        _write_ub(
            self.spark, self._count_table,
            _exact_max(self.spark, self._count_table, self._keys),
        )

    def build(self, docs: DataFrame):
        """Release-time build: write all three tables from scratch."""
        for t in self._tables():
            _clean_orphan_location(self.spark, t)
        key_rows = self._persisted_key_rows(docs, "build")
        # exact per-key max over the fresh index (one partition-local
        # agg) — the probe pre-flight's skip bound; running it FIRST
        # also populates the cache the writes share
        ub = _exact_max(self.spark, self._count_table, self._keys, key_rows)
        self._write(docs, key_rows, "overwrite")
        # a table property (zero write jobs), so after the table exists
        _write_ub(self.spark, self._count_table, ub)
        return self

    def append(self, crawl: DataFrame) -> None:
        """Admit a crawl: append its key, doc and count rows under the
        SAME bucket spec — no rebuild, no corpus-wide exchange. The
        admission guard and this generation's per-key max ride ONE
        tagged-union collect, which also fills the persisted cache;
        see the subclass docstring for recovery if the job dies between
        the writes."""
        key_rows = self._persisted_key_rows(crawl, "append")
        rows = _preflight_frame(
            self._count_keys(key_rows).agg(F.max("n").alias("num")),
            self._clash(key_rows),
        ).collect()
        gen_max = _preflight_dmax(rows, "doc_id", self._what("append"))
        # the bound drifts conservative (stored max ≤ old max + this
        # append's max; compact()/repair() re-tighten) and is written
        # BEFORE the data writes so a mid-append crash can only leave
        # it too high, never stale-low
        prev = _read_ub(self.spark, self._count_table)
        ub = None if prev is None else prev + gen_max
        if ub is not None:
            _write_ub(self.spark, self._count_table, ub)
        self._write(crawl, key_rows, "append")
        _settle_ub_after_append(self, self._count_table, self._keys, ub)

    def probe(self, crawl: DataFrame, tau: float = 0.5) -> DataFrame:
        """The crawl vs (index ∪ crawl). The crawl's keys merge into
        the stored count sidecar before the cap filter, so a crawl
        pushing a key over the cap suppresses it exactly as a rebuild
        would."""
        pending = self.prepare_probe(crawl)
        return pending.finish(pending.checks.collect(), tau=tau)

    def prepare_probe(self, crawl: DataFrame) -> PendingProbe:
        """The probe split at its one driver action: ``.checks`` is the
        lazy tagged-union pre-flight frame (admission guard + hot-skip
        bound legs) and ``.finish(rows)`` builds the result plan from
        the collected rows. probe() is exactly
        ``finish(checks.collect())``; callers with their OWN 1-row
        decisions to make (the stamped monthly job's fingerprint)
        union extra legs onto ``.checks`` and collect once (kind
        values 'dmax'/'clash' are reserved)."""
        # the crawl's key rows feed every probe leg — persist the
        # delta-bounded frame once. NOT bucket-aligned (unlike the
        # writes): A/B'd — pinning the crawl to `buckets` partitions
        # halves probe parallelism on a wide executor for no exchange
        # saved that matters (the join re-exchanges only the crawl side)
        delta = _fresh_persist(
            f"{self.name}_probe_d{self._suffixes[0]}", self._key_rows(crawl)
        )
        checks = _preflight_frame(
            self._count_keys(delta, "n_delta").agg(F.max("n_delta").alias("num")),
            self._clash(delta),
        )
        return PendingProbe(
            self, delta, self._doc_frame(crawl, delta), checks,
            _read_ub(self.spark, self._count_table),
        )

    def _finish_probe_plan(
        self,
        delta: DataFrame,
        delta_docs: DataFrame,
        rows: list,
        ub: int | None,
        tau: float,
    ) -> DataFrame:
        # the common warm path (natural corpus, ub + crawl max well
        # under cap) never touches the stored count sidecar
        hot = None
        if _preflight_verdict(rows, ub, self.cap, "doc_id", self._what("probe")):
            hot = self._hot_keys(delta)
            # natural corpora usually have NO over-cap key:
            # short-circuit past the anti-joins
            if not hot.head(1):
                hot = None
        # per-doc rows over the FULL corpus: the stored doc set and the
        # crawl's are disjoint (guarded), so a plain union IS the
        # corpus — a dropDuplicates would exchange the whole doc table
        docs = self.spark.table(self._doc_table).unionByName(delta_docs)
        return self._pairs(self.spark.table(self._key_table), delta, docs, hot, tau)

    def _hot_keys(self, delta: DataFrame) -> DataFrame:
        """Exact census merge: keys whose stored count + crawl count
        exceeds the cap. NOT a union-then-groupBy: the union would
        discard the sidecar's bucket layout and re-exchange the whole
        count table per probe. Instead the stored side aggregates
        partition-local on its buckets and the (crawl-bounded) delta
        counts broadcast-join in; keys the crawl alone pushes over the
        cap come from the second (tiny) leg. Evaluated EAGERLY by the
        caller: a lazy census (broadcast build side + AQE empty
        propagation) measured 5.2 → 9.9 s per invocation at sf1, and
        restricting the stored agg to the delta's keys via an inner
        broadcast join measured 1.12 s vs 0.84-1.08 s for this full
        bucket-local agg."""
        keys = list(self._keys)
        delta_counts = self._count_keys(delta, "n_delta")
        stored = self.spark.table(self._count_table).groupBy(*keys).agg(
            F.sum("n").alias("n_stored")
        )
        return (
            stored.join(F.broadcast(delta_counts), keys, "left_outer")
            .filter(F.col("n_stored") + F.coalesce("n_delta", F.lit(0)) > self.cap)
            .select(*keys)
            .unionByName(delta_counts.filter(F.col("n_delta") > self.cap).select(*keys))
            .dropDuplicates(keys)
        )

    def _cold(self, key_rows: DataFrame, hot: DataFrame | None) -> DataFrame:
        """``key_rows`` without the hot keys."""
        if hot is None:
            return key_rows
        return key_rows.join(F.broadcast(hot), list(self._keys), "left_anti")

    def compact(self) -> None:
        """Collapse the count sidecar to one row per key (the probe's
        bucket-local SUM then scans keys, not appends×keys) and
        re-tighten the pre-flight upper bound to the exact stored max
        (append drift is one-directional — see append). The doc table
        needs no compaction: doc sets are disjoint across appends
        (guarded), so it is already one row per doc."""
        _compact_counts(self.spark, self._count_table, list(self._keys), self.buckets)
        self._tighten_ub()

    def drop(self) -> None:
        _drop(self.spark, *self._tables(), f"{self._count_table}_compact_tmp")


@dataclass
class PostingIndex(_CountSidecarIndex):
    """Exact-shingle posting index: ``{name}_post`` (doc_id, h;
    bucketBy(h)) + ``{name}_ns`` (per-doc distinct shingle counts;
    bucketBy(doc_id)) + ``{name}_hcount`` (per-key posting counts;
    bucketBy(h) — the skew-guard sidecar).

    probe() = dedup_incremental's semantics against the stored index:
    per crawl doc, every index-or-crawl doc sharing ≥1 non-hot shingle
    and verifying at Jaccard ≥ tau, one row per ordered (new, match)
    pair, as (new_id, match_id, jaccard).

    ``guard_overlap`` (default on) rejects crawls whose doc_ids already
    exist in the index — see _assert_disjoint. Durability: the postings
    table is the source of truth; if a build/append dies between its
    three write jobs the sidecars lag it — ``reconcile()`` detects the
    drift and ``repair()`` rewrites both sidecars from the postings
    (the documented recovery path, ADVICE r8)."""

    spark: SparkSession
    name: str
    buckets: int = DEFAULT_BUCKETS
    cap: int = field(default_factory=lambda: NGRAM_DF_CAP)
    guard_overlap: bool = True
    #: append() auto-compacts when the drifted pre-flight bound exceeds
    #: this fraction of ``cap`` (None disables). The trigger is
    #: BOUND-based, not row-count-based, from the 24-append study
    #: (BENCH_SF1.md r10): probe wall is FLAT at 4× sidecar bloat while
    #: the ub bound holds (the r10 pre-flight never scans the sidecar
    #: then), so compacting on rows would be wasted maintenance — the
    #: one channel that degrades probes is ub drift (+= per-append max)
    #: crossing cap and flipping every probe to the exact census over
    #: the bloated sidecar. Compacting re-tightens ub to the exact max;
    #: if the EXACT max already exceeds the threshold (a genuinely hot
    #: corpus, not drift), auto-compact disables itself on this
    #: instance — compaction cannot reset a true maximum, and in that
    #: regime the exact-path probes are the correct cost.
    auto_compact_ub_frac: float | None = 0.75

    _suffixes = ("post", "ns", "hcount")
    _keys = ("h",)
    _post = _CountSidecarIndex._key_table
    _ns = _CountSidecarIndex._doc_table
    _hcount = _CountSidecarIndex._count_table

    def _key_rows(self, docs: DataFrame) -> DataFrame:
        return _postings(docs)

    def _doc_frame(self, docs: DataFrame | None, post: DataFrame) -> DataFrame:
        # per-doc distinct shingle counts, derived from the postings
        return post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    def _pairs(
        self,
        index_post: DataFrame,
        delta_post: DataFrame,
        ns: DataFrame,
        hot_keys: DataFrame | None,
        tau: float,
    ) -> DataFrame:
        # hot add-back: per-doc over-cap arrays so surviving pairs
        # report the TRUE shared count (dedup_incremental's recipe)
        hot = (
            None
            if hot_keys is None
            else _hot_doc_arrays(index_post.unionByName(delta_post), hot_keys)
        )
        cold_index = self._cold(index_post, hot_keys)
        cold_delta = self._cold(delta_post, hot_keys)
        # Delta-delta completeness WITHOUT moving the corpus: the
        # registered query unions delta into the `o` side, which is
        # fine for an in-plan index but would re-exchange the stored
        # corpus here whenever the crawl is too big to broadcast (the
        # union discards the bucket-derived partitioning). Instead the
        # probe splits by where the match lives — index matches join
        # the bucketed table (only the crawl side may shuffle),
        # delta-delta matches come from a crawl-bounded self-probe —
        # and the union of the two IS the full pair set (a match's
        # postings live wholly on one side, so every pair's
        # intersection count is complete within its leg). The legs
        # union as RAW pair counts so the ns joins + tau filter run
        # once — finished-leg union paid 4 broadcast stages where 2
        # suffice (the index is narrow, so broadcast-stage count
        # dominates probe wall at bench scale).
        pairs = _probe_pair_counts(cold_index, cold_delta).unionByName(
            _probe_pair_counts(cold_delta, cold_delta)
        )
        return _finish_probe(pairs, ns, hot, tau=tau).orderBy("new_id", "match_id")

    def reconcile(self) -> dict[str, int | bool]:
        """Consistency check for a suspected partial append: both
        sidecars must account for exactly the postings table's rows.
        Returns the three totals + a ``consistent`` flag; if False,
        call repair()."""
        n_post = self.spark.table(self._post).count()
        n_h = self.spark.table(self._hcount).agg(F.sum("n")).collect()[0][0] or 0
        n_ns = self.spark.table(self._ns).agg(F.sum("n_sh")).collect()[0][0] or 0
        return {
            "postings": n_post,
            "hcount_sum": int(n_h),
            "ns_sum": int(n_ns),
            "consistent": n_post == n_h == n_ns,
        }

    def repair(self) -> None:
        """Rebuild both sidecars from the postings table (the source of
        truth) — the recovery path for a build/append that died between
        its write jobs. The hcount rewrite is partition-local on the
        bucket layout; the ns rewrite is the one full exchange
        (groupBy doc_id over a bucketed-by-h table), acceptable for a
        one-off recovery."""
        post = self.spark.table(self._post)
        self._write_docs(self._doc_frame(None, post), "overwrite")
        self._write_counts(post, "overwrite")
        self._tighten_ub()


@dataclass
class BandIndex(_CountSidecarIndex):
    """MinHash/LSH band index: ``{name}_bands`` (doc_id, band, bucket;
    bucketBy(band, bucket)) + ``{name}_sh`` (shingle arrays for the
    exact-Jaccard verify; bucketBy(doc_id)) + ``{name}_bcount``
    (per-(band, bucket) counts — the hot-bucket sidecar).

    probe() = dedup_incremental_minhash's semantics against the stored
    index: the crawl band-probes the table, candidates verify at
    3-gram Jaccard ≥ tau, ordered (new_id, match_id) pairs.

    ``guard_overlap`` / durability mirror PostingIndex: disjoint
    appends are enforced against the ``_sh`` doc set (the invariant
    that lets probe() union the shingle sidecar without a corpus-wide
    dropDuplicates exchange); ``_bands`` + ``_sh`` are the source of
    truth and ``repair()`` rebuilds the count sidecar from ``_bands``
    after a partial append."""

    spark: SparkSession
    name: str
    buckets: int = DEFAULT_BUCKETS
    cap: int = field(default_factory=lambda: BAND_BUCKET_CAP)
    guard_overlap: bool = True
    #: bound-based auto-compact — see PostingIndex.auto_compact_ub_frac
    auto_compact_ub_frac: float | None = 0.75

    _suffixes = ("bands", "sh", "bcount")
    _keys = ("band", "bucket")
    _bands = _CountSidecarIndex._key_table
    _sh = _CountSidecarIndex._doc_table
    _bcount = _CountSidecarIndex._count_table

    def _key_rows(self, docs: DataFrame) -> DataFrame:
        # postings via the inline-explode shape (_postings docstring)
        return _band_table(minhash_signatures_agg(_postings(docs)))

    def _doc_frame(self, docs: DataFrame, bands: DataFrame) -> DataFrame:
        # the shingle-ARRAY frame is its own lineage from the docs —
        # never explode the aliased array
        return shingle_table(docs)

    def _pairs(
        self,
        index_bands: DataFrame,
        delta_bands: DataFrame,
        sh: DataFrame,
        big: DataFrame | None,
        tau: float,
    ) -> DataFrame:
        kept_index = self._cold(index_bands, big)
        kept_delta = self._cold(delta_bands, big)

        # same two-leg split as PostingIndex: crawl-vs-table (the
        # bucketed side never shuffles) + crawl-vs-crawl (bounded by the
        # crawl) — the union is the full candidate set
        def cand(o_side: DataFrame) -> DataFrame:
            d, o = kept_delta.alias("d"), o_side.alias("o")
            return d.join(
                o,
                (F.col("d.band") == F.col("o.band"))
                & (F.col("d.bucket") == F.col("o.bucket"))
                & (F.col("d.doc_id") != F.col("o.doc_id")),
            ).select(
                F.col("d.doc_id").alias("new_id"),
                F.col("o.doc_id").alias("match_id"),
            )

        cands = (
            cand(kept_index)
            .unionByName(cand(kept_delta))
            .dropDuplicates(["new_id", "match_id"])
        )
        return _jaccard_verify(cands, sh, "new_id", "match_id", tau=tau)

    def reconcile(self) -> dict[str, int | bool]:
        """``_bcount`` must account for exactly the band table's rows
        and ``_sh`` for its doc set (partial-append detector)."""
        n_bands = self.spark.table(self._bands).count()
        n_b = self.spark.table(self._bcount).agg(F.sum("n")).collect()[0][0] or 0
        docs_bands = (
            self.spark.table(self._bands).select("doc_id").dropDuplicates().count()
        )
        docs_sh = self.spark.table(self._sh).count()
        return {
            "band_rows": n_bands,
            "bcount_sum": int(n_b),
            "band_docs": docs_bands,
            "sh_docs": docs_sh,
            "consistent": n_bands == n_b and docs_bands == docs_sh,
        }

    def repair(self) -> None:
        """Rebuild the count sidecar from the band table. An ``_sh`` /
        ``_bands`` doc-set mismatch (reconcile's second flag) cannot be
        repaired from the index alone — re-append the missing crawl's
        rows or rebuild; the docstring IS the documented recovery
        contract (ADVICE r8)."""
        self._write_counts(self.spark.table(self._bands), "overwrite")
        self._tighten_ub()


@dataclass
class SemanticRelease:
    """SemDeDup release: ``{name}_assigned`` (vec_id, v, cl;
    bucketBy(cl)) + ``{name}_cents`` (the frozen k×dim centroids as a
    tiny table — the release sidecar a real deployment ships next to
    the data).

    probe() = semantic_prune_incremental's semantics against the
    stored release: assign ONLY the crawl with the frozen centroids,
    cogroup per cell, one row per pruned crawl vector with the
    lowest-id qualifying keeper. Because the frozen side comes from a
    TABLE, the cogroup's two lineages are disjoint (the self-lineage
    hazard the registered query guards against cannot arise).

    ``k=None`` (the default) sizes k ∝ n at build() — TARGET_CELL mean
    vectors per cell, the documented 100 TB setting (VERDICT r8 ask #4;
    previously it lived only in scripts/bench_semantic_scale.py's flag).
    Fixed-k probes crept 1.38→2.35 s across the sf1→sf10 decade because
    cells grow with the corpus and the per-cell GEMM is O(cell²·d);
    constant mean cell keeps per-cell work — and hence probe wall —
    flat. Appends do NOT re-size k (centroids are frozen by contract);
    a deployment whose corpus doubles via appends re-releases, exactly
    like the reference's monthly release cycle.

    SINGLE-OWNER-PROCESS CONTRACT (ADVICE r9, scope pinned by
    tests/test_round10_ops.py): an append through another instance in
    the SAME process is safe — Spark's CacheManager invalidates and
    recaches plans depending on a table on insert, so the cached
    frozen frame sees it. The residual hazard is an append from
    ANOTHER PROCESS: no cross-process cache invalidation exists, this
    instance keeps probing its pre-append snapshot, and a vec_id
    admitted elsewhere passes the overlap guard then cos=1
    self-matches — silently. One process must own each release name
    at a time (the same no-concurrent-writers protocol the warehouse
    itself requires — see _clean_orphan_location); after a KNOWN
    out-of-band append, call ``refresh()`` to drop the cache. Cheap
    automatic freshness validation was considered and rejected: any
    real check (row count, max vec_id) is a corpus-sized job per
    probe — exactly the cost the cache exists to remove.

    DURABILITY of build(): ``_assigned`` then ``_cents`` commit as two
    non-atomic writes, but ``exists()`` demands BOTH, so a build that
    dies between them reads as absent and the retry rebuilds — the
    failure mode is a redundant rebuild, never a half-release probed
    as current (pinned by tests/test_round10_ops.py); the stale
    ``_assigned`` table the retry overwrites (or, from a fresh
    process, the orphaned directory _clean_orphan_location clears) is
    dead weight, not corruption. Callers stamping releases get the
    same property end-to-end because write_release_stamp runs LAST."""

    spark: SparkSession
    name: str
    buckets: int = DEFAULT_BUCKETS
    k: int | None = None
    guard_overlap: bool = True
    _frozen_df: DataFrame | None = field(default=None, repr=False, compare=False)

    #: Mean vectors per cell the auto-k mode targets (mirrors
    #: scripts/bench_semantic_scale.py's TARGET_CELL — measured there:
    #: per-cell pair counts flat as n grows).
    TARGET_CELL = 600

    @property
    def _assigned(self) -> str:
        return f"{self.name}_assigned"

    @property
    def _cents(self) -> str:
        return f"{self.name}_cents"

    def exists(self) -> bool:
        """See PostingIndex.exists."""
        return all(
            self.spark.catalog.tableExists(t)
            for t in (self._assigned, self._cents)
        )

    def build(self, emb: DataFrame) -> "SemanticRelease":
        """Fit k-means on the release corpus (frozen thereafter), write
        the assigned corpus bucketed by cell + the centroid sidecar.
        With ``k=None``, k is chosen here from the corpus size (one
        count job — release-time, amortized)."""
        from overturelink_data_pipeline_spark.operators.similarity import (
            _lloyd_assign,
            _lloyd_fit,
        )

        for t in (self._assigned, self._cents):
            _clean_orphan_location(self.spark, t)
        if self.k is None:
            self.k = max(8, math.ceil(emb.count() / self.TARGET_CELL))
        cents = _lloyd_fit(emb, k=self.k, kernel="arrow")
        _bucket_aligned(
            _lloyd_assign(emb, cents, kernel="arrow"), self.buckets, "cl"
        ).write.bucketBy(self.buckets, "cl").sortBy("cl").mode(
            "overwrite"
        ).saveAsTable(self._assigned)
        self._frozen_df = None  # release contents changed
        self.spark.createDataFrame(
            [(cl, list(map(float, c))) for cl, c in sorted(cents.items())],
            "cl long, c array<double>",
        ).write.mode("overwrite").saveAsTable(self._cents)
        return self

    def centroids(self) -> dict[int, list[float]]:
        return {
            int(r["cl"]): list(r["c"])
            for r in self.spark.table(self._cents).collect()
        }

    def _frozen(self) -> DataFrame:
        """The assigned release repartitioned to HashPartitioning(cl)
        and persisted once per instance. Python cogroup
        (FlatMapCoGroupsInPandas) is NOT satisfied by the bucketBy
        layout — it demands exact HashPartitioning(key,
        shuffle.partitions) — so feeding probe() straight from the
        table re-exchanges the whole release PER PROBE (measured: the
        sf10 decade creep, 2.04→2.70 s at 10× corpus, was exactly this
        term). One exchange paid here at first probe; every later
        probe is exchange-free on the corpus side. Invalidated by
        build()/append()."""
        if self._frozen_df is None:
            self._frozen_df = _fresh_persist(
                f"{self.name}_frozen_assigned",
                self.spark.table(self._assigned).repartition("cl"),
            )
        return self._frozen_df

    def _assign(self, emb: DataFrame) -> DataFrame:
        from overturelink_data_pipeline_spark.operators.similarity import (
            _lloyd_assign,
        )

        return _lloyd_assign(emb, self.centroids(), kernel="arrow")

    def append(self, crawl: DataFrame) -> None:
        """Admit a crawl: assign under the FROZEN centroids, append into
        the bucketed release — never re-cluster, never re-shuffle.
        Single-table append (one atomic write job); the centroid
        sidecar is immutable after build, so no partial-append state
        exists for this modality."""
        if self.guard_overlap:
            _assert_disjoint(
                self.spark.table(self._assigned), crawl, "vec_id",
                f"SemanticRelease({self.name}).append",
            )
        _bucket_aligned(self._assign(crawl), self.buckets, "cl").write.bucketBy(
            self.buckets, "cl"
        ).sortBy("cl").mode("append").saveAsTable(self._assigned)
        self._frozen_df = None  # release contents changed

    def probe(self, crawl: DataFrame, tau: float | None = None) -> DataFrame:
        from overturelink_data_pipeline_spark.operators.similarity import (
            SEMDEDUP_TAU,
            incremental_cell_prune,
        )

        frozen = self._frozen()
        if self.guard_overlap:
            # a vec_id already in the release would cos=1 self-match
            # and prune itself spuriously; the check rides the cached
            # frozen frame, so it never rescans the table
            _assert_disjoint(
                frozen, crawl, "vec_id",
                f"SemanticRelease({self.name}).probe",
            )
        return incremental_cell_prune(
            frozen,
            self._assign(crawl),
            tau=SEMDEDUP_TAU if tau is None else tau,
        )

    def refresh(self) -> None:
        """Drop the cached frozen frame so the next probe re-reads the
        table — the manual escape hatch when the single-owner-instance
        contract (class docstring) is broken knowingly, e.g. after an
        out-of-band append from another process."""
        if self._frozen_df is not None:
            try:
                self._frozen_df.unpersist(blocking=False)
            except Exception:
                pass
            self._frozen_df = None

    def drop(self) -> None:
        self.refresh()
        _drop(self.spark, self._assigned, self._cents)


def temp_name(prefix: str) -> str:
    """Collision-free table-name prefix for tests/notebooks."""
    return f"{prefix}_{uuid.uuid4().hex[:8]}"
