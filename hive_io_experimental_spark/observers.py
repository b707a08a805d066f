"""Observability hooks: per-query observed metrics + throughput meters.

The reference wires observers around read/parse/serialize/write
(input/HiveApiInputObserver.java:29-90) and a MetricsObserver with rows/s +
MB/s meters (cmdline/.../benchmark/MetricsObserver.java:35-80,
tailer/Stats.java:92-162). Spark-first translation:

  * ``observed_scan`` attaches ``DataFrame.observe`` accumulators (rows +
    bytes estimate) — computed JVM-side DURING execution, zero extra jobs,
    exactly the role of the reference's per-record observer but without a
    per-row callback (which would serialize the hot path through Python).
  * ``ScanMeter`` wraps an action with wall-clock timing and exposes the
    observed metrics as rows/s + MB/s, the tailer's Stats line.

CONSCIOUS DIVERGENCE: the reference's observer fires beginReadRow/
endReadRow + beginParse/endParse around EVERY record
(input/HiveApiInputObserver.java:29-90 — begin/end hook pairs per read and
per parse); this engine observes at scan granularity with one aggregate
accumulator. Per-row Python callbacks would serialize the vectorized hot
path (and even JVM-side per-row listeners defeat whole-stage codegen); the
aggregate observer delivers the same operational signal — progress,
throughput, row/byte counts — at zero marginal cost, which is the Spark
idiom for this job.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed_scan(
    df: DataFrame,
    observation: Observation,
    corrupt_col: str | None = None,
) -> DataFrame:
    """Attach row/byte observers to a scan (HiveApiInputObserver parity).

    Metrics: n_rows, approx_bytes (sum of per-row external byte sizes of
    every column — an estimate, like the reference's rawSize-scaled
    meter), and n_read_failed — the ``hiveReadRowFailed`` signal
    (HiveApiInputObserver.java:43-46) in aggregate form: rows whose
    ``corrupt_col`` is non-null. PERMISSIVE csv/json scans route
    unparseable lines into that column (see
    ``formats.with_corrupt_capture``); the count rides the same
    Observation, so failed reads are metered DURING the scan with no
    per-row callback and no second job. 0 when no corrupt_col is wired
    (parquet/orc scans fail jobs, not rows — there is nothing to count).
    """
    size_cols = [
        F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0))
        for c in df.columns
    ]
    total = size_cols[0]
    for c in size_cols[1:]:
        total = total + c
    failed = (
        F.count(F.col(corrupt_col))
        if corrupt_col is not None
        else F.lit(0).cast("long")
    )
    return df.observe(
        observation,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(total.cast("long")).alias("approx_bytes"),
        failed.alias("n_read_failed"),
    )


@dataclass
class ScanStats:
    """The tailer's stats line (Stats.java:133-151) plus the aggregate
    failed-read count (``n_read_failed`` stays OFF the csv_line — the
    reference's Stats columns are pinned by the bench harness parity)."""

    n_rows: int
    approx_mb: float
    seconds: float
    n_read_failed: int = 0

    @property
    def rows_per_s(self) -> float:
        return self.n_rows / self.seconds if self.seconds > 0 else 0.0

    @property
    def mb_per_s(self) -> float:
        return self.approx_mb / self.seconds if self.seconds > 0 else 0.0

    def csv_line(self, threads: int) -> str:
        return (
            f"{self.n_rows},{threads},{self.approx_mb:.2f},{self.seconds:.3f},"
            f"{self.rows_per_s:.1f},{self.mb_per_s:.2f}"
        )


class ScanMeter:
    """Time an action over an observed DataFrame and report throughput.

    Usage::

        meter = ScanMeter()
        df = meter.attach(engine_scan)
        df.write.format("noop").mode("overwrite").save()
        stats = meter.stats()
    """

    def __init__(self, name: str = "scan_meter") -> None:
        self.observation = Observation(name)
        self._t0: float | None = None
        self._elapsed: float | None = None

    def attach(
        self, df: DataFrame, corrupt_col: str | None = None
    ) -> DataFrame:
        self._t0 = time.perf_counter()
        self._elapsed = None
        return observed_scan(df, self.observation, corrupt_col)

    def mark_done(self) -> None:
        """Freeze the wall-clock at the action boundary.

        Call immediately after the metered action returns so that
        follow-up driver work (stats re-reads, catalog registration)
        is NOT billed to the observed job — the 'observed DURING the
        write job' contract. Idempotent: the first call wins, so a
        caller placing it after every write branch is safe."""
        if self._t0 is not None and self._elapsed is None:
            self._elapsed = time.perf_counter() - self._t0

    def stats(self) -> ScanStats:
        if self._t0 is None:
            raise RuntimeError("attach() was never called")
        seconds = (
            self._elapsed
            if self._elapsed is not None
            else time.perf_counter() - self._t0
        )
        got = self.observation.get
        return ScanStats(
            n_rows=got["n_rows"] or 0,
            approx_mb=(got["approx_bytes"] or 0) / 1e6,
            seconds=seconds,
            n_read_failed=got.get("n_read_failed", 0) or 0,
        )


class WriteMeter(ScanMeter):
    """Write-side meter: rows/bytes observed DURING the write job.

    The reference wires its observer pairs around serialize/write of every
    record (output/RecordWriterImpl.java:88-131) and meters both
    directions (cmdline/.../benchmark/MetricsObserver.java:35-80). Same
    conscious divergence as the scan side: one aggregate
    ``DataFrame.observe`` on the frame the write action consumes — the
    metrics ride the write job itself (no second pass over the data), and
    per-row callbacks would serialize the vectorized path.

    ``HiveOutput`` attaches one automatically; read
    ``HiveOutput.last_write_stats`` after any write_table/write_dynamic
    call, or ``stats().csv_line(threads)`` for the tailer's CSV shape.
    """

    # itertools.count is a single C-level atomic step, so meters created
    # from concurrent writer threads can never collide on a name (a
    # plain `_seq += 1` races under threaded writes)
    _seq = itertools.count(1)

    def __init__(self, name: str | None = None) -> None:
        # Observation instances are single-use; uniquify the default name
        # so back-to-back writes in one session never collide.
        if name is None:
            name = f"write_meter_{next(WriteMeter._seq)}"
        super().__init__(name)
