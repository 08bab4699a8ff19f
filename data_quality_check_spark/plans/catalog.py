"""Catalog abstraction (SURVEY.md §1.4): Iceberg semantics in
production, plain Parquet + atomic JSON manifests in the sandbox.

The spec (BASELINE.json:14) mandates Iceberg tables; the sandbox has
no iceberg-spark-runtime jar and no network, so all pipeline logic is
written against this interface:

- ``LocalParquetCatalog``: directory-per-table of flat parquet files
  plus a ``_manifests/`` dir of JSON snapshots.  Which key values
  (e.g. buckets) a file holds is recorded in the manifest, not in
  ``key=value/`` directories: ``overwrite_partitions`` writes one
  key-sorted file per task with Spark's plain writer and replaces
  keys copy-on-write at commit (Iceberg's ``overwrite(filter)``);
  appends add unique-named files.  Every commit runs under an
  exclusive lock on ``_manifests/.lock`` and ends in a manifest
  rename, the commit point.
- ``IcebergCatalog``: thin wrapper over ``spark.read.table`` /
  ``writeTo().append()`` / ``overwritePartitions()``; usable on a
  real cluster via
  ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:...``
  (documented, not executable here).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# names Spark's and pyarrow's listings skip
_HIDDEN = ("_", ".")
# files overwrite_partitions commits; any of them missing from the
# latest manifest was left by a commit that crashed before its rename
_OVERWRITE_PREFIX = "part-ow-"
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _is_overwrite_file(rel: str) -> bool:
    return os.path.basename(rel).startswith(_OVERWRITE_PREFIX)


class Catalog:
    def read_table(self, name: str) -> DataFrame: ...
    def append(self, name: str, df: DataFrame) -> None: ...
    def overwrite_partitions(self, name: str, df: DataFrame, keys: list[str]) -> None: ...
    def table_exists(self, name: str) -> bool: ...
    def snapshot_id(self, name: str) -> str | None: ...

    def append_small(self, name: str, rows: list, schema,
                     spark: SparkSession) -> None:
        """Append a SMALL, already-collected row set (<= wave_size
        rows — the audit table path).  Default routes through a
        normal Spark append; LocalParquetCatalog overrides with a
        driver-side arrow write, which removes one Spark job per
        wave AND is safe under concurrent writers (Spark's
        append-mode FileOutputCommitter shares one `_temporary/0`
        staging dir across applications, so two processes appending
        the same directory can delete each other's pending task
        files — the multi-process pipeline runs in
        tools/bench_multiproc.py hit exactly that)."""
        self.append(name, spark.createDataFrame(rows, schema))


def _spark_to_arrow_type(dt):
    """Minimal Spark->arrow type map for the driver-side small-append
    path (audit/ledger column types only; extend as schemas grow)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.TimestampType):
        # tz-pinned micros: naive arrow timestamps would read back as
        # TIMESTAMP_NTZ under Spark's parquet NTZ inference and split
        # the column type across files
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.MapType):
        return pa.map_(_spark_to_arrow_type(dt.keyType),
                       _spark_to_arrow_type(dt.valueType))
    if isinstance(dt, T.ArrayType):
        return pa.list_(_spark_to_arrow_type(dt.elementType))
    raise TypeError(f"append_small: unmapped Spark type {dt}")


def _key_rows(tbl, keys: list[str]):
    return zip(*[tbl.column(k).to_pylist() for k in keys])


def _key_tuples(tbl, keys: list[str]) -> set[tuple]:
    return set(_key_rows(tbl, keys))


def _narrow_by_footer(candidates: set[tuple], meta, keys: list[str]) -> set[tuple]:
    """The candidate key tuples a parquet file can hold by its footer:
    each key column's min/max over all row groups.  A superset of the
    file's exact key set (a value inside [min, max] need not occur),
    which is all overwrite needs: a file is only deleted when every
    key it may hold is replaced, and rewrites filter row by row."""
    lo: dict[str, object] = {}
    hi: dict[str, object] = {}
    unknown = set()
    for g in range(meta.num_row_groups):
        rg = meta.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            k = col.path_in_schema
            if k not in keys:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                unknown.add(k)
                continue
            lo[k] = st.min if k not in lo else min(lo[k], st.min)
            hi[k] = st.max if k not in hi else max(hi[k], st.max)

    def fits(t: tuple) -> bool:
        return all(v is None or k in unknown or k not in lo
                   or lo[k] <= v <= hi[k] for k, v in zip(keys, t))

    return {t for t in candidates if fits(t)}


class LocalParquetCatalog(Catalog):
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- helpers -----------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_dir(self, name: str) -> str:
        return os.path.join(self._dir(name), "_manifests")

    def _data_files(self, name: str) -> list[str]:
        """Relative paths of the parquet files on disk, skipping
        ``_``/``.``-prefixed dirs (manifests, a crashed overwrite's
        ``.staging-*``) as Spark's and pyarrow's listings do.  An
        O(files) walk — the sandbox stand-in for Iceberg's manifest
        lists, which make the same enumeration O(manifests) at
        10^12-file scale."""
        d = self._dir(name)
        out = []
        for dirpath, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith(_HIDDEN)]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(_HIDDEN):
                    out.append(os.path.relpath(os.path.join(dirpath, f), d))
        return sorted(out)

    @contextlib.contextmanager
    def _locked(self, name: str):
        """Exclusive commit lock of one table.  flock locks belong to
        the open file description, so threads of one process exclude
        each other too (each opens its own descriptor)."""
        mdir = self._manifest_dir(name)
        os.makedirs(mdir, exist_ok=True)
        fd = os.open(os.path.join(mdir, ".lock"), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)

    def _latest_manifest(self, name: str) -> dict | None:
        sid = self.snapshot_id(name)
        if sid is None:
            return None
        with open(os.path.join(self._manifest_dir(name), f"{sid}.json")) as f:
            return json.load(f)

    def _write_manifest(self, name: str, op: str, files: list[str],
                        keys: dict[str, list]) -> str:
        """Write-then-rename: the rename is the commit point.  The
        manifest pins the snapshot's data-file set (what makes
        read_table_at possible) and the key set of every file an
        overwrite wrote.  Callers hold the table lock, so snapshot
        ids are strictly increasing even for commits inside one
        millisecond, and no commit misses a file another one added."""
        mdir = self._manifest_dir(name)
        prev = [int(f.split("-")[0]) for f in os.listdir(mdir)
                if f.endswith(".json")]
        ms = max(int(time.time() * 1000),
                 (max(prev) + 1) if prev else 0)
        sid = f"{ms:013d}-{uuid.uuid4().hex[:8]}"
        tmp = os.path.join(mdir, f".{sid}.json.tmp")
        final = os.path.join(mdir, f"{sid}.json")
        with open(tmp, "w") as f:
            json.dump({"snapshot": sid, "op": op, "files": sorted(files),
                       "keys": keys}, f)
        os.replace(tmp, final)
        return sid

    def _commit_append(self, name: str) -> str:
        """Manifest for an append: every file on disk except the
        overwrite files a crashed commit left behind."""
        with self._locked(name):
            prev = self._latest_manifest(name) or {}
            live = set(prev.get("files", ()))
            files = [f for f in self._data_files(name)
                     if f in live or not _is_overwrite_file(f)]
            on_disk = set(files)
            keys = {f: k for f, k in prev.get("keys", {}).items()
                    if f in on_disk}
            return self._write_manifest(name, "append", files, keys)

    # -- interface ---------------------------------------------------------
    def table_exists(self, name: str) -> bool:
        return os.path.isdir(self._dir(name)) and bool(self._data_files(name))

    def read_table(self, name: str) -> DataFrame:
        # A file can vanish between this listing and the scan only if
        # a concurrent overwrite replaced every key it held; it then
        # holds none of the keys a disjoint reader (a wave's audit)
        # asks for, so skipping it is exact for that reader.
        reader = self.spark.read.option("ignoreMissingFiles", "true")
        schema = self._footer_schema(name)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._dir(name))

    def _footer_schema(self, name: str) -> StructType | None:
        """The Spark schema recorded in the footer of a committed file:
        what Spark's inference would read from one file, without the
        one-task job it launches to read it.  None (= let Spark infer)
        for files pyarrow wrote from scratch."""
        import pyarrow.parquet as pq

        m = self._latest_manifest(name)
        if not m or not m["files"]:
            return None
        try:
            meta = pq.read_schema(
                os.path.join(self._dir(name), m["files"][0])).metadata or {}
        except OSError:  # replaced by a commit since the manifest read
            return None
        js = meta.get(_SPARK_SCHEMA_KEY)
        return StructType.fromJson(json.loads(js)) if js else None

    def append(self, name: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._dir(name))
        self._commit_append(name)

    def append_rows(self, name: str, rows: list[dict]) -> None:
        """Driver-side append for tiny metadata tables (ledger): one
        pyarrow file write, no Spark job.  The Iceberg branch routes
        through a normal append."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        tbl = pa.Table.from_pylist(rows)
        # an all-None column (e.g. output_fingerprint of an empty
        # bucket wave) infers as pyarrow null type, which Spark reads
        # back as void and cannot union with later string appends —
        # pin such columns to string
        for i, fld in enumerate(tbl.schema):
            if pa.types.is_null(fld.type):
                tbl = tbl.set_column(
                    i, pa.field(fld.name, pa.string()),
                    tbl.column(i).cast(pa.string()))
        path = os.path.join(d, f"part-driver-{uuid.uuid4().hex}.parquet")
        # hidden-prefixed temp: a crash mid-write must leave a file
        # Spark's directory listing ignores, or resume breaks
        tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
        self._commit_append(name)

    def append_small(self, name: str, rows: list, schema,
                     spark: SparkSession) -> None:
        """Driver-side arrow append with an EXPLICIT schema derived
        from the Spark one (append_rows infers, which is fine for the
        flat ledger but would turn the audit's map<string,long> into
        a struct).  Write-then-rename per file: unique names, so any
        number of concurrent processes can commit waves against one
        catalog root without a shared staging dir."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        arrow_schema = pa.schema(
            [(f.name, _spark_to_arrow_type(f.dataType))
             for f in schema.fields])
        d = self._dir(name)
        os.makedirs(d, exist_ok=True)
        pydicts = []
        for r in rows:
            rd = r.asDict(recursive=True) if hasattr(r, "asDict") else dict(r)
            for f in schema.fields:
                v = rd.get(f.name)
                # collect() returns naive local-tz datetimes; make
                # them aware so the tz=UTC arrow column is exact
                if v is not None and f.dataType.typeName() == "timestamp" \
                        and getattr(v, "tzinfo", None) is None:
                    rd[f.name] = v.astimezone()
            pydicts.append(rd)
        tbl = pa.Table.from_pylist(pydicts, schema=arrow_schema)
        path = os.path.join(d, f"part-driver-{uuid.uuid4().hex}.parquet")
        tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
        self._commit_append(name)

    def overwrite_partitions(self, name: str, df: DataFrame, keys: list[str]) -> None:
        """Replace every key tuple present in `df` (the idempotent
        rerun primitive for per-bucket results); other keys survive.

        Spark's plain writer puts one file per task (sorted by the
        caller) in a hidden staging dir; a `collect_set` observation
        on the same action records the exact key set written.  The
        commit, under the table lock: move the staged files in
        (each file's keys = the observed set narrowed by its footer
        min/max), rewrite files holding only SOME replaced keys
        without them (copy-on-write, Iceberg's overwrite(filter)),
        rename the manifest (the commit point), then delete the
        replaced files.  A crash before the rename leaves a staging
        dir every listing skips and overwrite files the next commit
        deletes; the old manifest still names the old files.

        Key values must be JSON scalars (int, str, bool)."""
        d = self._dir(name)
        staging = os.path.join(d, f".staging-{uuid.uuid4().hex}")
        obs = Observation(f"overwrite-keys-{uuid.uuid4().hex}")
        try:
            (df.observe(obs, F.collect_set(F.struct(*keys)).alias("keys"))
             .write.parquet(staging))
            replaced = {tuple(r) for r in obs.get["keys"]}
            with self._locked(name):
                self._commit_overwrite(name, staging, keys, replaced)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _commit_overwrite(self, name: str, staging: str, keys: list[str],
                          replaced: set[tuple]) -> None:
        import pyarrow.parquet as pq

        d = self._dir(name)
        prev = self._latest_manifest(name)
        live = prev["files"] if prev else [
            f for f in self._data_files(name) if not _is_overwrite_file(f)]
        live_keys = {f: {tuple(k) for k in ks}
                     for f, ks in (prev or {}).get("keys", {}).items()}
        tag = uuid.uuid4().hex
        files, new_keys, drop = [], {}, []

        def add(rel: str, ks: set[tuple]) -> None:
            files.append(rel)
            new_keys[rel] = sorted(ks, key=repr)

        staged = sorted(f for f in os.listdir(staging)
                        if f.endswith(".parquet") and not f.startswith(_HIDDEN))
        for i, f in enumerate(staged):
            src = os.path.join(staging, f)
            meta = pq.read_metadata(src)
            if meta.num_rows == 0:
                continue
            rel = f"{_OVERWRITE_PREFIX}{tag}-{i:05d}.parquet"
            os.replace(src, os.path.join(d, rel))
            add(rel, _narrow_by_footer(replaced, meta, keys))

        for j, rel in enumerate(live):
            path = os.path.join(d, rel)
            held = live_keys.get(rel)
            if held is None:  # appended, not overwritten: read its keys
                held = _key_tuples(pq.read_table(path, columns=keys), keys)
            hit = held & replaced
            if not hit:
                add(rel, held)
                continue
            drop.append(path)
            if hit == held:
                continue
            tbl = pq.read_table(path)
            mask = [t not in replaced for t in _key_rows(tbl, keys)]
            tbl = tbl.filter(mask)
            if tbl.num_rows:
                out = f"{_OVERWRITE_PREFIX}{tag}-r{j:05d}.parquet"
                tmp = os.path.join(d, f".{out}.tmp")
                pq.write_table(tbl, tmp)
                os.replace(tmp, os.path.join(d, out))
                add(out, _key_tuples(tbl, keys))

        named = set(live) | set(files)
        orphans = [os.path.join(d, f) for f in os.listdir(d)
                   if _is_overwrite_file(f) and f not in named]
        self._write_manifest(name, "overwrite_partitions", files, new_keys)
        for path in drop + orphans:
            os.remove(path)

    def snapshot_id(self, name: str) -> str | None:
        snaps = self.snapshots(name)
        return snaps[-1] if snaps else None

    def snapshots(self, name: str) -> list[str]:
        """All committed snapshot ids, oldest first (ids embed a ms
        timestamp, so lexicographic order == commit order)."""
        mdir = self._manifest_dir(name)
        if not os.path.isdir(mdir):
            return []
        return sorted(f.removesuffix(".json") for f in os.listdir(mdir)
                      if f.endswith(".json"))

    def read_table_at(self, name: str, snapshot: str) -> DataFrame:
        """Time travel: read the table exactly as of a committed
        snapshot — the Iceberg `VERSION AS OF` primitive, used to
        reconstruct the audit/ledger state any pipeline wave saw.

        Sound for APPEND-ONLY tables (audit, ledger — the lineage
        tables this catalog exists for): appends never delete files,
        so every older snapshot's file set is still on disk.  An
        overwrite deletes the files it replaced (the local catalog
        keeps no file history, unlike real Iceberg), so
        reading a pre-overwrite snapshot raises instead of silently
        returning partial data."""
        mpath = os.path.join(self._manifest_dir(name), f"{snapshot}.json")
        if not os.path.isfile(mpath):
            raise ValueError(f"unknown snapshot {snapshot!r} for table "
                             f"{name!r}")
        with open(mpath) as f:
            m = json.load(f)
        files = m.get("files")
        if files is None:
            raise ValueError(
                f"snapshot {snapshot!r} predates file tracking")
        d = self._dir(name)
        paths = [os.path.join(d, rel) for rel in files]
        missing = [p for p in paths if not os.path.isfile(p)]
        if missing:
            raise ValueError(
                f"snapshot {snapshot!r} is no longer readable: "
                f"{len(missing)} file(s) were replaced by a later "
                f"overwrite (append-only tables never hit this)")
        if not paths:
            return self.spark.createDataFrame([], self.read_table(name).schema)
        return self.spark.read.parquet(*paths)


class IcebergCatalog(Catalog):
    """Iceberg branch for real clusters (interface-identical; not
    executable in the sandbox — no iceberg jar, no network [ENV])."""

    def __init__(self, spark: SparkSession, namespace: str = "dq"):
        self.spark = spark
        self.ns = namespace

    def _fq(self, name: str) -> str:
        return f"{self.ns}.{name}"

    def table_exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._fq(name))

    def read_table(self, name: str) -> DataFrame:
        return self.spark.read.table(self._fq(name))

    def append(self, name: str, df: DataFrame) -> None:
        # first write must CREATE the table: writeTo().append() raises
        # TABLE_OR_VIEW_NOT_FOUND on a fresh catalog
        if not self.table_exists(name):
            df.writeTo(self._fq(name)).using("iceberg").create()
        else:
            df.writeTo(self._fq(name)).append()

    def append_rows(self, name: str, rows: list[dict]) -> None:
        df = self.spark.createDataFrame(rows)
        # mirror LocalParquetCatalog: all-None fingerprints must not
        # pin the table schema to void
        for fld in df.schema.fields:
            if fld.dataType.typeName() in ("null", "void"):
                df = df.withColumn(
                    fld.name, df[fld.name].cast("string"))
        self.append(name, df)

    def overwrite_partitions(self, name: str, df: DataFrame, keys: list[str]) -> None:
        if not self.table_exists(name):
            from pyspark.sql import functions as F
            w = df.writeTo(self._fq(name)).using("iceberg")
            if keys:
                w = w.partitionedBy(*[F.col(k) for k in keys])
            w.create()
        else:
            df.writeTo(self._fq(name)).overwritePartitions()

    def snapshot_id(self, name: str) -> str | None:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._fq(name)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1").collect()
        return str(rows[0][0]) if rows else None
