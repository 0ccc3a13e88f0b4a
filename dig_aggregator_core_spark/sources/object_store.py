"""Object-store conf pass-through + scheme-aware listing (VERDICT r9
task 8).

The reference lists and reads live S3 (reference Input.scala:38-45,
with credentials resolved outside the engine); this repo's engine runs
against local fixtures, so the S3 path cannot be exercised here — but
the SURFACE should exist so a deployment is a config change, not a code
change:

- :func:`configure_s3a` sets the standard ``fs.s3a.*`` Hadoop options
  (endpoint, credentials provider, path-style access) on the session's
  Hadoop configuration. Nothing is invented: these are the documented
  hadoop-aws keys, passed through verbatim. Opt-in — calling nothing
  changes nothing.
- :func:`hadoop_lister` is the S3-shaped lister built on Hadoop's
  ``FileSystem`` API, so it works for ANY registered scheme (``s3a://``
  in production, ``file://`` in tests — which is how it is unit-tested
  with zero network).
- :func:`lister_for` picks the right lister from the root's scheme, so
  swapping the local lister for the S3 lister is exactly one config
  value (the warehouse/input root URI).

Requires the hadoop-aws + aws-sdk jars on the classpath for ``s3a://``
(standard on EMR/Dataproc/k8s Spark images; not bundled in this
sandbox), which is the documented, untestable-here gap — COVERAGE.md
§2.1.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Callable, Optional

from pyspark.sql import SparkSession

from ..functions.paths import dirname

Lister = Callable[[str], list]


def configure_s3a(
    spark: SparkSession,
    endpoint: Optional[str] = None,
    credentials_provider: Optional[str] = None,
    path_style_access: Optional[bool] = None,
    extra: Optional[dict] = None,
) -> None:
    """Apply s3a options to the live Hadoop conf (effective for scans
    AND the hadoop_lister, executors included — Spark ships the Hadoop
    conf with each task). All arguments optional; only what is passed
    is set."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    if endpoint is not None:
        hconf.set("fs.s3a.endpoint", endpoint)
    if credentials_provider is not None:
        hconf.set("fs.s3a.aws.credentials.provider", credentials_provider)
    if path_style_access is not None:
        hconf.set(
            "fs.s3a.path.style.access", "true" if path_style_access else "false"
        )
    for k, v in (extra or {}).items():
        hconf.set(k, v)


def hadoop_lister(spark: SparkSession, root: str) -> Lister:
    """A lister over any Hadoop-registered filesystem scheme — the
    drop-in replacement for plans.context.local_lister when the root is
    a URI (s3a://bucket/prefix, file:///dir, hdfs://...). Returns
    (key, mtime) pairs relative to the root, exactly the local lister's
    contract (Input.scala:38-45's LIST shape).

    The walk is a single recursive LIST below the prefix's directory —
    for S3 that is the flat paginated LIST call, not a per-directory
    crawl. Matching the listed keys against a Source's globs is one
    Arrow regex pass (plans.inputs.Source.inputs)."""
    root = root.rstrip("/")

    def ls(prefix: str) -> list[tuple[str, datetime]]:
        jvm = spark._jvm  # noqa: SLF001
        hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
        jpath = jvm.org.apache.hadoop.fs.Path(root)
        fs = jpath.getFileSystem(hconf)
        top = jvm.org.apache.hadoop.fs.Path(f"{root}/{dirname(prefix)}")
        # drop-in parity with local_lister (ADVICE r10): a nonexistent
        # root or prefix directory lists as EMPTY (os.walk semantics), it
        # does not raise — a method pointed at a not-yet-created input
        # root sees "no inputs yet" on either lister
        if not fs.exists(top):
            return []
        it = fs.listFiles(top, True)
        out: list[tuple[str, datetime]] = []
        base = fs.makeQualified(jpath).toString().rstrip("/") + "/"
        while it.hasNext():
            st = it.next()
            full = st.getPath().toString()
            key = full[len(base):] if full.startswith(base) else full
            if key.startswith(prefix):
                mtime = datetime.fromtimestamp(
                    st.getModificationTime() / 1000.0, tz=timezone.utc
                ).replace(tzinfo=None)
                out.append((key, mtime))
        return sorted(out)

    return ls


def lister_for(spark: SparkSession, root: str) -> Lister:
    """One-config lister dispatch: URI roots (anything with a scheme)
    get the Hadoop lister; bare paths get the local os.walk lister."""
    if "://" in root:
        return hadoop_lister(spark, root)
    from ..plans.context import local_lister

    return local_lister(root)
