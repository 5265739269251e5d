"""Checkpoint discipline for long iterative dataflows.

Measured on this Spark build (a long truss peel): a chain of more than
~12 `localCheckpoint()` generations hits a geometric per-sweep
replay blowup — 0.7s/sweep flat for 12 sweeps, then x4 per sweep —
even though every post-checkpoint plan is a bare LogicalRDD scan
(the SQL-layer truncation is working; the cost re-appears below
it). The reliable truncation for long chains is a REAL materialized
rebase: write the frame to parquet and read it back, which is also
exactly what long iterative jobs do on clusters (a shared-filesystem
checkpoint dir).

`IterCheckpointer.cut(df)` is a drop-in for `df.localCheckpoint()`:
cheap local checkpoints for short chains, an automatic parquet
rebase every `rebase_every` cuts so chains of ANY depth stay flat.
Iterations bounded well under the threshold (fixed small round
counts) don't need this; BFS to unknown depth, fixpoint CC on
high-diameter graphs, and long peel schedules do.

Frames read back from a rebase are used lazily after their loop
returns, so a loop cannot remove its own directory. Each SparkContext
owns one root directory (an entry of its session memo) holding every
loop directory: it is removed when that memo is released (a new
context replaced the stopped one) or at interpreter exit. The temp
location is the deployment setting (`TMPDIR`).
"""

from __future__ import annotations

import shutil
import tempfile
import weakref

from pyspark.sql import DataFrame

from onionnet_spark.core import row_count
from onionnet_spark.memo import session_memo


class _ScratchRoot:
    """A temp directory removed at interpreter exit, or earlier when
    the memo that holds it is released."""

    def __init__(self):
        self.path = tempfile.mkdtemp(prefix="onionnet_ckpt_")
        self._remove = weakref.finalize(
            self, shutil.rmtree, self.path, ignore_errors=True
        )

    def unpersist(self) -> None:
        """The memo's release hook: remove the directory now."""
        self._remove()


class IterCheckpointer:
    """Counts checkpoint generations; every `rebase_every`-th cut is
    a parquet write/read rebase instead of a localCheckpoint."""

    def __init__(self, rebase_every: int = 10, prefix: str = "onionnet_iter_"):
        self.rebase_every = rebase_every
        self._dir: str | None = None
        self._prefix = prefix
        self._n = 0

    def cut(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """``eager=False`` defers materialization to the caller's next
        action, so the cut costs no job of its own (`cut_count` is
        that action for a loop that counts each cut). Only the
        localCheckpoint arm defers; the parquet rebase is a write and
        stays eager by nature."""
        self._n += 1
        if self.rebase_every and self._n % self.rebase_every == 0:
            if self._dir is None:
                root = session_memo(df.sparkSession).get(
                    ("checkpoint_root",), _ScratchRoot
                )
                self._dir = tempfile.mkdtemp(prefix=self._prefix, dir=root.path)
            path = f"{self._dir}/gen_{self._n}"
            df.write.mode("overwrite").parquet(path)
            return df.sparkSession.read.parquet(path)
        return df.localCheckpoint(eager=eager)

    def cut_count(self, df: DataFrame) -> tuple[DataFrame, int]:
        """A lazy cut of `df` and its row count in ONE Spark job: the
        count (core.row_count) is the action that materializes it."""
        cut = self.cut(df, eager=False)
        return cut, row_count(cut)
