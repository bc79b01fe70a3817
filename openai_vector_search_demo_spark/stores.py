"""Partition-stored index access — the one funnel for every stored ANN /
multi-vector read path (LSH buckets, IVF cells, PQ-coded IVF, the
late-interaction token index).

All those indexes share one physical layout: a parquet table partitioned
by the probe column (``bucket=…`` / ``cell=…`` directories, one file per
partition from the write-time ``repartition``), and one query shape:
read ONLY the probed partitions.  What differs between the sandbox and a
production deployment is WHERE the partition metadata lives:

- **Metastore pattern** (production): the store is registered as an
  external partitioned catalog table; the probe set becomes a partition
  predicate and Catalyst consults the CATALOG's partition list
  (``PartitionFilters``) — no filesystem listing beyond the matched
  directories, and probes with no partition prune to nothing at plan
  time.  ``register_partitioned_store`` + ``read_probed_partitions(...,
  table=...)`` below.
- **Local-FS fallback** (the sandbox default, and any
  catalog-less deployment): the |probes| candidate directories are
  enumerated with a driver-side stat and handed to the reader under
  ``basePath``, so Spark never lists the non-probed directories.

Both forms keep the residual ``isin`` filter: it pins
``PartitionFilters`` in the plan (tests assert it) and guards against
stray files under ``basePath``.  Reference behavior note: the reference
serves its index from Redis (modules/utilities.py — RediSearch
KNN); partition-pruned parquet + catalog metadata is the Spark-first
equivalent of that server-side index lookup.

**Store lifecycle.**  Every cached index the query registry serves goes
through ``ensure_store(spark, tag, inputs, build)``, the one place that
knows a store's key, location and publish protocol.  The key is the
format-version ``tag`` plus a content fingerprint (path, size, mtime)
of the ``inputs`` it is built from, so a corpus regenerated in place
gets a fresh store.  Each build writes EVERY part (main table,
``_sigs``/``_meta`` side tables, ``_L*`` levels, ``_L1_META``, stats,
upsert/tombstone/stream steps) into one fresh generation directory
``STORE_ROOT/<tag>-<digest>/gen-<uuid>``; only after ``build`` returns
does an empty manifest file ``_MANIFEST.gen-<uuid>`` appear beside it
— a single create, atomic on every filesystem, naming the generation in
its file name.  Readers resolve a store ONLY through its manifest,
never through a part's ``_SUCCESS``, so a build that died between parts
is invisible; a build that raises deletes its own generation and
re-raises.  Concurrent callers that both build each publish and return
their own complete generation (readers pick the smallest manifest
name) — no directory is ever renamed, so a losing writer can never nest
inside or corrupt the winner's store.  Bump the tag whenever the on-disk format
of a store kind changes.
"""

from __future__ import annotations

import hashlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_probed_partitions", "register_partitioned_store",
           "fs_exists", "fs_touch", "fs_write_text", "fs_read_text",
           "escape_partition_value", "tenant_values", "ensure_store",
           "store_key_dir"]

# the one root every cached store lives under (see "Store lifecycle")
STORE_ROOT = "/tmp/spark_graft_stores"
_MANIFEST = "_MANIFEST."

# the characters Spark/Hive escape in partition directory names
# (ExternalCatalogUtils.escapePathName / Hive FileUtils.escapePathName —
# public API behavior): control chars plus this printable set, each
# written as %XX uppercase hex.  Composing "tenant=<raw>" paths by
# f-string with an unescaped value either ESCAPES the isolation subtree
# (a value containing '/' or '..') or MISSES the directory partitionBy
# actually wrote (space, '=', ':'), so every tenant path below goes
# through escape_partition_value (ADVICE r14).
_HIVE_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def tenant_values(df, tenant_col: str) -> list:
    """Distinct tenant values for a tenant-scoped store write, sorted.

    Raises on NULL: per-alias isolation needs a non-null alias (the
    reference requires the index alias as user input before any write,
    app/app.py:152-153).  Silently proceeding is worse than it looks —
    ``F.col(tenant_col) == None`` matches NOTHING, so a null-tenant
    row would vanish from every subtree while an empty, stats-less
    ``tenant=__HIVE_DEFAULT_PARTITION__`` directory gets written (a
    serve of that tenant then returns null scores)."""
    rows = (df.select(tenant_col).distinct()
            .orderBy(F.col(tenant_col).asc_nulls_first()).collect())
    vals = [r[0] for r in rows]
    if vals and vals[0] is None:
        raise ValueError(
            f"tenant column {tenant_col!r} contains NULL — per-tenant "
            "stores need a non-null alias for every row (filter or "
            "default the nulls before the write)")
    return vals


def escape_partition_value(value) -> str:
    """The directory-name form of a partition VALUE — exactly what
    ``df.write.partitionBy(col)`` produces for that value, so composed
    subtree paths like ``{store}/tenant={escaped}`` always name the
    directory the write created and can never contain a path separator
    (slash and backslash are in the escape set: traversal-shaped values
    become inert ``%2F``/``%5C`` sequences inside ONE component).
    Matches Hive's escapePathName; ``__HIVE_DEFAULT_PARTITION__`` is the
    engine-standard null slot."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch
                   for ch in str(value))


def _hadoop_path_fs(spark: SparkSession, path: str):
    """(Path, FileSystem) for ``path`` via Spark's own Hadoop conf — the
    URI-scheme-aware way to stat/write store markers.  A driver-local
    ``os.path`` check silently misses on any non-local store URI (s3a://,
    hdfs://, abfss://) — the 100 TB posture the stored-index docstrings
    claim — so every marker read/write below goes through this."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jpath, fs


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API (scheme-aware:
    file://, s3a://, hdfs://, ...)."""
    jpath, fs = _hadoop_path_fs(spark, path)
    return bool(fs.exists(jpath))


def fs_touch(spark: SparkSession, path: str) -> None:
    """Create (or overwrite) an empty marker file at ``path`` through the
    Hadoop FileSystem API."""
    jpath, fs = _hadoop_path_fs(spark, path)
    fs.create(jpath, True).close()


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file (store metadata — e.g. the NSW upper
    layer's write-time params) through the Hadoop FileSystem API, so it
    lands next to the data on ANY store URI."""
    jpath, fs = _hadoop_path_fs(spark, path)
    out = fs.create(jpath, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file written by ``fs_write_text``; None if the
    file does not exist (callers treat that as 'no metadata')."""
    jpath, fs = _hadoop_path_fs(spark, path)
    if not fs.exists(jpath):
        return None
    inp = fs.open(jpath)
    try:
        # one JVM call for the whole payload (commons-io rides Spark's
        # classpath) — the per-byte inp.read() loop this replaces paid
        # one py4j round-trip PER BYTE (ADVICE r14)
        jvm = spark.sparkContext._jvm
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(inp)
        return bytes(data).decode("utf-8")
    finally:
        inp.close()


def _parquet_fingerprint(path: str) -> str:
    """Content fingerprint of a parquet file-or-directory: total bytes +
    newest mtime (ns) of the data files.  Cheap (a handful of stats), and it
    changes whenever the data is regenerated in place — which a path-only
    cache key cannot see (the r4 stale-index defect: regenerate the fixtures
    at the same sf_dir and a path-keyed index silently serves stale
    buckets)."""
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(".parquet") or f == "_SUCCESS")
    else:
        parts = [path]
    sig = []
    for p in parts:
        st = os.stat(p)
        sig.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(sig)


def store_key_dir(tag: str, inputs=()) -> str:
    """The key directory of the store built by ``tag`` from ``inputs``:
    ``STORE_ROOT/<tag>-<md5 of tag + input fingerprints>``."""
    sig = "|".join([tag, *(_parquet_fingerprint(p) for p in inputs)])
    return (f"{STORE_ROOT}/{tag}-"
            f"{hashlib.md5(sig.encode()).hexdigest()[:10]}")


def _published_generation(spark: SparkSession, key_dir: str) -> str | None:
    """The generation a published manifest names (the smallest name when
    concurrent callers each published one), or None."""
    jpath, fs = _hadoop_path_fs(spark, f"{key_dir}/{_MANIFEST}*")
    names = [st.getPath().getName() for st in fs.globStatus(jpath) or []]
    return min(names)[len(_MANIFEST):] if names else None


def ensure_store(spark: SparkSession, tag: str, inputs, build) -> str:
    """Path of the published store for (``tag``, ``inputs``), building it
    first when none is published: ``build(gen_dir)`` writes every part
    under the fresh ``gen_dir``, then the manifest naming it is created.
    A build that raises deletes ``gen_dir`` and re-raises (module
    docstring, "Store lifecycle")."""
    key_dir = store_key_dir(tag, inputs)
    gen = _published_generation(spark, key_dir)
    if gen is not None:
        return f"{key_dir}/{gen}"
    gen = f"gen-{uuid.uuid4().hex}"
    path = f"{key_dir}/{gen}"
    try:
        build(path)
    except BaseException:
        jpath, fs = _hadoop_path_fs(spark, path)
        fs.delete(jpath, True)
        raise
    fs_touch(spark, f"{key_dir}/{_MANIFEST}{gen}")
    return path


def read_probed_partitions(spark: SparkSession, store: str, part_col: str,
                           probes, table: str | None = None) -> DataFrame:
    """DataFrame over ONLY the probed partitions of a partition-stored
    index (see module docstring for the two metadata modes).

    ``probes`` is any iterable of partition values; duplicates collapse.
    With every probed partition absent the result is the store's schema
    with zero rows (the no-candidates contract every stored read path
    shares)."""
    probes = sorted(set(probes))
    if table is not None:
        # metastore pattern: the catalog prunes partitions at plan time
        return spark.table(table).filter(F.col(part_col).isin(probes))
    paths = [p for p in (os.path.join(store, f"{part_col}={v}")
                         for v in probes) if fs_exists(spark, p)]
    if not paths:
        return (spark.read.parquet(store)
                .filter(F.col(part_col).isin(probes)).limit(0))
    return (spark.read.option("basePath", store).parquet(*paths)
            .filter(F.col(part_col).isin(probes)))


def register_partitioned_store(spark: SparkSession, table: str,
                               store: str) -> None:
    """Register a partition-stored index as an EXTERNAL catalog table and
    recover its partitions from the directory layout — the metastore
    pattern's one-time setup step (per index build, not per query).
    Idempotent: re-registration drops the table entry first; the data
    files are never touched (external location)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} USING parquet LOCATION '{store}'")
    # populate the catalog's partition list from the directories (MSCK)
    spark.catalog.recoverPartitions(table)
