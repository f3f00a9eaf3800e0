"""Driver-plan hygiene for iterative DataFrame loops.

Iterative algorithms that rebuild a frame from itself each round grow the
LOGICAL plan with round count — linearly when the previous frame is
referenced once (the self-edge discipline, CLAUDE.md), 2^n when it is
referenced twice. Catalyst's driver-side cost grows super-linearly with
that plan even in the single-reference case: measured on the
component-propagation loop, 12 rounds took 68 s (analysis-dominated) and
16 rounds OOM'd an 8 g driver during plan handling, independent of data
size (BENCH.md "deep-loop robustness"). Deep loops therefore need
periodic LINEAGE TRUNCATION — the standard iterative-graph pattern
(GraphFrames checkpoints the same way), done here as a parquet roundtrip
instead of RDD checkpoints so caller-owned cache contracts
(getPersistentRDDs pins) and eviction-recompute safety both hold.

``let`` is the expression-level counterpart: it keeps a value that an
expression needs several times from being re-typed (and re-evaluated) at
each reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def let(value: Column, body) -> Column:
    """Bind ``value`` as a lambda variable so ``body`` may reference it many
    times while it evaluates ONCE per row. ``transform`` over a one-element
    array is the cheapest expression-level let-binding Spark offers.

    Two reasons to bind: Catalyst never CSEs repeated subexpressions inside
    HOF lambdas (CLAUDE.md), so an unbound ``split(text)`` referenced l
    times per position re-splits the text l times per position (round-9;
    measured 2.5x on the shingle builders at sf1.0); and a chain of steps
    that each reference the previous step k > 1 times grows as k^steps
    once the optimizer substitutes aliases (a pushed-down filter inlines
    the whole chain), where a let-bound step references it once.

    ``body`` must take exactly ONE parameter: a two-parameter lambda is
    transform's (element, index) form."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _fs_delete_spark(spark, path: str) -> None:
    """Best-effort recursive delete through the Hadoop FileSystem API —
    works for local paths AND cluster URIs (HDFS/S3), unlike shutil."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)
    except Exception:
        pass  # cleanup is advisory; never fail the job over scratch files


def _fs_delete(df: DataFrame, path: str) -> None:
    try:
        _fs_delete_spark(df.sparkSession, path)
    except Exception:
        pass


class LineageTruncator:
    """Owns the scratch lifecycle for ONE iterative loop's roundtrips.

    ``roundtrip(df)`` writes ``df`` to a scratch parquet and returns a
    re-read whose plan is a fresh scan, independent of how deep the
    input's lineage was. The write is EAGER. Lifecycle rules it enforces
    (round-6 review findings):

    * per-call ISOLATION — under a caller-supplied ``scratch_dir`` every
      truncator instance writes into its own uuid subdirectory, so two
      calls sharing one job-scratch URI can never overwrite each other's
      files (a stale cached frame from call A would otherwise silently
      recompute from call B's data);
    * SUPERSESSION CLEANUP, DEFERRED BY ONE — roundtrip N is deleted when
      N+2 is durably written, never when N+1 is: frames built BEFORE
      roundtrip N+1 (e.g. the loop's still-persisted previous iterate,
      unpersisted only after the roundtrip call returns) may still root
      their eviction-recompute at N, so an immediate delete would make
      correctness depend on the caller's unpersist ordering (round-6
      second review pass). A deep loop therefore holds at most TWO
      scratch files;
    * the LAST roundtrip file must OUTLIVE every downstream consumer of
      the returned frame — an evicted cache partition recomputes from it —
      so it is never auto-deleted mid-lifecycle; RECLAMATION (round-7,
      advisor fix) is (a) explicit: ``release()`` deletes everything this
      truncator wrote, for the caller to invoke once every frame derived
      from a roundtrip is released or fully materialized elsewhere
      (public callers re-export it as a ``sparklead_release_scratch``
      attribute on their returned frame), and (b) automatic at process
      exit for the LOCAL TEMPDIR DEFAULT only: the base dir is
      atexit-registered, so a long-lived driver no longer strands
      corpus-sized dirs in /tmp for the host's lifetime. Cluster callers
      still own eventual reclamation of their job-scratch URI — the
      truncator cannot know when the caller's cached frames die, so for
      caller-supplied URIs nothing is deleted implicitly.

    ``scratch_dir=None`` (the local default) creates a driver-local temp
    dir — single-process correct only; ON A CLUSTER pass a job-scratch
    URI (HDFS/S3) reachable by every executor.
    """

    def __init__(self, scratch_dir: str | None = None, prefix: str = "sparklead_roundtrip"):
        self._scratch = scratch_dir
        self._prefix = prefix
        self._base: str | None = None
        self._seq = 0
        self._last: str | None = None
        self._prev: str | None = None
        self._spark = None

    def release(self) -> None:
        """Delete every scratch file this truncator created (the whole base
        dir). Only call once no live frame can recompute from a roundtrip
        file: all caches derived from ``roundtrip()`` results unpersisted,
        or their contents durably materialized elsewhere. Idempotent;
        no-op when no roundtrip ever fired (the shallow-loop fast path)."""
        if self._base is None:
            return
        if self._spark is not None:
            _fs_delete_spark(self._spark, self._base)
        else:  # never wrote — tempfile.mkdtemp dir only
            import shutil

            shutil.rmtree(self._base, ignore_errors=True)
        self._base = None
        self._last = None
        self._prev = None

    def roundtrip(self, df: DataFrame) -> DataFrame:
        if self._base is None:
            if self._scratch is None:
                import atexit
                import shutil
                import tempfile

                self._base = tempfile.mkdtemp(prefix=self._prefix + "_")
                # tempdir default = driver-local path: reclaim at process
                # exit (caches are dead then; plain shutil is correct for
                # a guaranteed-local path even after the JVM is gone)
                atexit.register(shutil.rmtree, self._base, ignore_errors=True)
            else:
                import uuid

                self._base = (
                    f"{self._scratch.rstrip('/')}/{self._prefix}_{uuid.uuid4().hex[:12]}"
                )
        self._seq += 1
        self._spark = df.sparkSession
        path = f"{self._base}/r{self._seq}"
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.parquet(path)
        if self._prev is not None:
            _fs_delete(df, self._prev)
        self._prev = self._last
        self._last = path
        return out
