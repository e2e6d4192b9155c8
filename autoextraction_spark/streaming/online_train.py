"""Online DQN training over a page stream — E13/E14 in their ORIGINAL
online form.

The reference trains online: every episode immediately stores its
transitions and takes an optimizer step (DQN.py:125-160 — rollout → store →
``agent.update()`` per episode). The batch trainer (operators/rl_train.py)
reframes that as offline fitted-Q; this module restores the online loop at
stream scale: each micro-batch of landed pages

1. rolls out ε-greedy episodes under the CURRENT weights (one Arrow pass,
   ``generate_transitions``),
2. appends the transitions to a durable replay buffer — parquet partitioned
   by ``_epoch`` with dynamic partition overwrite, so a retried epoch
   REPLACES its own partition (the exactly-once sink pattern from
   ingest.py),
3. runs ``iters_per_batch`` fitted-Q iterations over a recency window of
   the buffer (``window_epochs`` — the streaming analog of the reference's
   bounded replay memory, replay_buffer.py max_size; the window bounds what
   training READS, and the trainer itself DROPS ``_epoch`` partitions that
   have aged past ``window_epochs + retention_margin_epochs``, so the
   buffer's footprint is bounded without an external cleanup job),
4. persists the updated weights + loss as ``weights_epoch_<id>.json``.

Idempotency of the weight update: a retried epoch loads the newest weights
from an epoch STRICTLY BELOW its own id, so the retry recomputes from the
same inputs (same prior weights, same replaced buffer partition) and
overwrites the same artifact with the same bytes — no double ε decay, no
double optimizer step. The policy improves WHILE the crawl runs: the next
micro-batch's rollouts already use the updated weights.

Deployment note: ``foreachBatch`` runs on the driver, so the JSON weight
artifacts only need driver-visible storage; on a real cluster point
``workdir`` at a shared filesystem (the replay buffer inside it is written
through Spark and takes any supported URI).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import scorers, store
from ..operators import detect, rl_train
from ..operators.text_extract import with_extracted_text
from .ingest import stream_pages


def _latest_weights(workdir: str, before_epoch: int) -> tuple[list[float], float, int]:
    """Newest (weights, epsilon, epoch) persisted with epoch < before_epoch."""
    best = None
    for p in glob.glob(os.path.join(workdir, "weights_epoch_*.json")):
        with open(p) as f:
            m = json.load(f)
        if m["epoch"] < before_epoch and (best is None or m["epoch"] > best["epoch"]):
            best = m
    if best is None:
        return [0.0] * scorers.FEATURE_DIM, None, -1
    return best["weights"], best["epsilon"], best["epoch"]


class OnlineTrainer:
    """foreachBatch body: rollout → buffer append → K fitted-Q iters →
    weight artifact. Pure function of (landed files, prior artifacts), so
    streaming-checkpoint replays are idempotent."""

    def __init__(
        self,
        workdir: str,
        iters_per_batch: int = 5,
        epsilon0: float = 0.6,
        epsilon_decay: float = 0.95,
        window_epochs: int | None = None,
        retention_margin_epochs: int = 2,
        seed: int = 0,
        **train_kw,
    ):
        self.workdir = workdir
        self.buffer_dir = os.path.join(workdir, "replay_buffer")
        self.iters_per_batch = iters_per_batch
        self.epsilon0 = epsilon0
        self.epsilon_decay = epsilon_decay
        self.window_epochs = window_epochs
        # keep a margin beyond the training window before dropping storage:
        # a replayed epoch near the window edge must still find every
        # partition its original run trained on
        self.retention_margin_epochs = retention_margin_epochs
        self.seed = seed
        self.train_kw = train_kw
        os.makedirs(workdir, exist_ok=True)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        w, eps, _prev = _latest_weights(self.workdir, epoch_id)
        if eps is None:
            eps = self.epsilon0
        model = rl_train.LinearQ(w)
        det = detect.detect_relations(with_extracted_text(batch_df))
        trans = rl_train.generate_transitions(
            det, model.policy(), epsilon=eps, seed=self.seed + epoch_id
        )
        store.write_epoch(trans, self.buffer_dir, epoch_id)
        # upper bound _epoch <= epoch_id in BOTH branches: a replay from an
        # older streaming checkpoint (or a backfill with later-epoch
        # partitions present) must not train on the future — that would
        # break the retry-recomputes-from-the-same-inputs idempotency
        buffer = store.read(spark, self.buffer_dir).filter(
            F.col("_epoch") <= epoch_id
        )
        if self.window_epochs is not None:
            buffer = buffer.filter(
                F.col("_epoch") > epoch_id - self.window_epochs
            )
        model, hist = rl_train.train_dqn(
            buffer,
            model,
            n_iters=self.iters_per_batch,
            seed=self.seed + epoch_id,
            **self.train_kw,
        )
        artifact = {
            "epoch": int(epoch_id),
            "weights": model.w,
            "epsilon": eps * self.epsilon_decay,
            "loss": hist[-1]["loss"] if hist else None,
            "buffer_rows_trained": int(buffer.count()),
        }
        store.write_json(os.path.join(self.workdir, f"weights_epoch_{epoch_id}.json"), artifact)
        # retention runs AFTER the weight artifact lands: a crash between
        # training and retirement retries the epoch with its window intact;
        # it drops partitions aged past the window plus the keep-margin
        if self.window_epochs is not None:
            store.retire_epochs(
                self.buffer_dir, epoch_id - self.window_epochs - self.retention_margin_epochs
            )


def stream_online_training(
    spark: SparkSession,
    in_dir: str,
    workdir: str,
    ckpt_dir: str,
    **trainer_kw,
):
    """Start the online-training stream over a landing directory; returns
    the StreamingQuery. ``availableNow`` drains what's landed then stops
    (the batch-catchup trigger); production uses processingTime."""
    return store.run_available(
        stream_pages(spark, in_dir), OnlineTrainer(workdir, **trainer_kw), ckpt_dir
    )


def current_policy(workdir: str) -> str:
    """The deployable ``learned:`` policy string from the newest weight
    artifact — inference picks up training progress by re-reading this."""
    w, _eps, epoch = _latest_weights(workdir, 1 << 62)
    if epoch < 0:
        raise FileNotFoundError(f"no weight artifacts under {workdir}")
    return rl_train.learned_policy(w)
