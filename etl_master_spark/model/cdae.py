"""Denoising-autoencoder collaborative filter — the reference's actual model
family (encoder ``Linear→ReLU``, decoder to per-item logits, BCE
reconstruction with input dropout: ``model_my.py:20-59``,
``main_my.py:225-237``) trained distributively.

Spark-first translation of the training loop:

- The reference densifies the whole user×item matrix up front
  (``main_my.py:81-88`` — its scalability wall). Here a user's multi-hot row
  exists ONLY inside an Arrow batch, rebuilt on the fly from the user's
  item ids through the driver-side item index (``item_index``); nothing
  user×item-shaped ever materializes globally.
- Each epoch, executors compute BCE partial gradients over their batches
  (numpy BLAS), the driver sums O(n_items×emb) blocks and steps, then
  re-broadcasts — the same partial-gradient loop as
  ``crossdomain.fit_mlp_map``. Weight size bounds the method at
  n_items ≈ 10⁶ per domain (W broadcast); past that, shard the decoder by
  item range (same loop, per-shard blocks).
- Denoising dropout (reference p=0.5, ``model_my.py:44``) uses a
  deterministic integer-hash mask over (user, item-index, epoch) — same
  regularization effect, replayable on any partitioning, no RNG state on
  executors.

Scoring is join-first like every other scorer here: z_u · W2[:, i] for
CANDIDATE pairs only, expressed as a DataFrame join between the user-latent
table and the item-decoder table with a ``zip_with`` dot product — the full
logits matrix (reference ``my_utils.py:121-129``) is never formed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ranking import eval_from_scores
from ..operators.recsplit import negatives, splits
from .reduce import tree_collect

EMB_SIZE = 16
EPOCHS = 15
LR = 0.3
SEED = 72
DROPOUT_NUM = 1  # keep prob = 1 - DROPOUT_NUM/DROPOUT_DEN
DROPOUT_DEN = 4


def item_index(
    train: DataFrame, domains: tuple[str, ...] = ("x", "y")
) -> dict[str, np.ndarray]:
    """Dense item index per domain from ONE driver collect: each domain's
    distinct train item ids, ascending, so item i's decoder column is its
    position 0..n−1 (``np.searchsorted``). The weights are n_items × emb
    on the driver already, so the index adds no new scale limit."""
    got = {
        r["domain"]: np.asarray(r["items"], dtype=np.int64)
        for r in train.groupBy("domain")
        .agg(F.sort_array(F.collect_set("item_id")).alias("items"))
        .collect()
    }
    return {d: got.get(d, np.empty(0, dtype=np.int64)) for d in domains}


def _train_frame(
    spark: SparkSession, sf_dir: str, domain: str
) -> tuple[DataFrame, np.ndarray, int]:
    """(user_id, items ARRAY<BIGINT>) over the train split + the dense item
    index (``item_index``) that addresses decoder columns."""
    tr = splits(spark, sf_dir).filter(
        (F.col("split") == "train") & (F.col("domain") == domain)
    )
    items = item_index(tr, (domain,))[domain]
    per_user = tr.groupBy("user_id").agg(F.collect_list("item_id").alias("items"))
    return per_user, items, len(items)


def _multi_hot(pdf: pd.DataFrame, items: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    users = pdf["user_id"].to_numpy(dtype="int64")
    x = np.zeros((len(pdf), len(items)), dtype=np.float64)
    for row, ids in enumerate(pdf["items"]):
        x[row, np.searchsorted(items, np.asarray(ids, dtype="int64"))] = 1.0
    return users, x


def train_cdae(
    spark: SparkSession,
    sf_dir: str,
    domain: str,
    emb: int = EMB_SIZE,
    epochs: int = EPOCHS,
    lr: float = LR,
    seed: int = SEED,
) -> dict:
    per_user, items, n_items = _train_frame(spark, sf_dir, domain)
    per_user = per_user.persist()
    n_users = per_user.count()
    rng = np.random.default_rng(seed)
    w1 = rng.normal(0.0, 0.01, (n_items, emb))
    w2 = rng.normal(0.0, 0.01, (emb, n_items))
    losses: list[float] = []
    try:
        for epoch in range(epochs):
            bw = spark.sparkContext.broadcast({"w1": w1, "w2": w2})

            def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                p1, p2 = bw.value["w1"], bw.value["w2"]
                g1 = np.zeros_like(p1)
                g2 = np.zeros_like(p2)
                loss = 0.0
                for pdf in batches:
                    if not len(pdf):
                        continue
                    users, x = _multi_hot(pdf, items)
                    # deterministic denoising mask: drop DROPOUT_NUM/DEN of
                    # each user's live inputs, independent of partitioning
                    h = (
                        users[:, None] * 2654435761
                        + np.arange(n_items)[None, :] * 40503
                        + epoch * 97
                    ) % DROPOUT_DEN
                    x_noisy = np.where(h < DROPOUT_NUM, 0.0, x)
                    z_pre = x_noisy @ p1
                    z = np.maximum(z_pre, 0.0)
                    logits = z @ p2
                    p = 1.0 / (1.0 + np.exp(-logits))
                    # BCE against the CLEAN row (denoising objective)
                    loss += float(
                        -(
                            x * np.log(np.clip(p, 1e-12, None))
                            + (1.0 - x) * np.log(np.clip(1.0 - p, 1e-12, None))
                        ).sum()
                    )
                    r = p - x
                    g2 += z.T @ r
                    gz = r @ p2.T
                    gz[z_pre <= 0.0] = 0.0
                    g1 += x_noisy.T @ gz
                yield pd.DataFrame(
                    {
                        "g1": [g1.ravel().tolist()],
                        "g2": [g2.ravel().tolist()],
                        "loss": [loss],
                    }
                )

            partials = tree_collect(
                per_user.mapInPandas(
                    part, "g1 array<double>, g2 array<double>, loss double"
                )
            )
            bw.unpersist()
            g1 = sum(np.array(p["g1"]) for p in partials).reshape(w1.shape)
            g2 = sum(np.array(p["g2"]) for p in partials).reshape(w2.shape)
            w1 -= lr * g1 / n_users
            w2 -= lr * g2 / n_users
            losses.append(sum(p["loss"] for p in partials) / n_users)
    finally:
        per_user.unpersist()
    return {
        "W1": w1,
        "W2": w2,
        "items": items,
        "per_user": per_user,  # unpersisted: lazy again
        "n_items": n_items,
        "losses": losses,
    }


def cdae_user_embeddings(
    spark: SparkSession,
    sf_dir: str,
    domain: str,
    emb: int = EMB_SIZE,
    epochs: int = EPOCHS,
    lr: float = LR,
    seed: int = SEED,
) -> DataFrame:
    """S5 export with the CDAE's OWN latent z (reference exports the
    trained model's embeddings, ``model_my.py:111-145``): one training
    run, then (user_id, embedding ARRAY<DOUBLE>) via the Arrow latent
    pass — never a driver-side matrix."""
    model = train_cdae(spark, sf_dir, domain, emb=emb, epochs=epochs, lr=lr,
                       seed=seed)
    items = model["items"]
    bw = spark.sparkContext.broadcast(model["W1"])

    def latent(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p1 = bw.value
        for pdf in batches:
            if not len(pdf):
                continue
            users, x = _multi_hot(pdf, items)
            z = np.maximum(x @ p1, 0.0)
            yield pd.DataFrame({"user_id": users, "embedding": z.tolist()})

    return model["per_user"].mapInPandas(
        latent, "user_id long, embedding array<double>"
    )


def cdae_scores(
    spark: SparkSession,
    sf_dir: str,
    domain: str,
    emb: int = EMB_SIZE,
    epochs: int = EPOCHS,
    lr: float = LR,
    seed: int = SEED,
) -> DataFrame:
    """(user_id, item_id, domain, score) for candidate pairs only."""
    model = train_cdae(spark, sf_dir, domain, emb=emb, epochs=epochs, lr=lr,
                       seed=seed)
    return cdae_scores_with(spark, sf_dir, domain, model)


def cdae_scores_with(
    spark: SparkSession, sf_dir: str, domain: str, model: dict
) -> DataFrame:
    """Score candidate pairs from an in-hand model dict (live-trained or
    checkpoint-reloaded) — the shared scoring half of ``cdae_scores``."""
    items = model["items"]
    bw = spark.sparkContext.broadcast(model["W1"])

    def latent(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p1 = bw.value
        for pdf in batches:
            if not len(pdf):
                continue
            users, x = _multi_hot(pdf, items)
            z = np.maximum(x @ p1, 0.0)
            yield pd.DataFrame({"user_id": users, "z": z.tolist()})

    z_df = model["per_user"].mapInPandas(latent, "user_id long, z array<double>")
    w2 = model["W2"]
    dec = spark.createDataFrame(
        [(int(item), w2[:, idx].tolist()) for idx, item in enumerate(items)],
        "item_id long, w_out array<double>",
    )
    neg = negatives(spark, sf_dir).filter(F.col("domain") == domain)
    hold = splits(spark, sf_dir).filter(
        F.col("split").isin("vali", "test") & (F.col("domain") == domain)
    )
    cand = (
        neg.select("user_id", "item_id")
        .unionByName(hold.select("user_id", "item_id"))
        .distinct()
    )
    dot = F.aggregate(
        F.zip_with("z", "w_out", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(z_df, "user_id")
        .join(F.broadcast(dec), "item_id")
        .select(
            "user_id",
            "item_id",
            F.lit(domain).alias("domain"),
            dot.alias("score"),
        )
    )


def cdae_eval(
    spark: SparkSession,
    sf_dir: str,
    mode: str = "test",
    emb: int = EMB_SIZE,
    epochs: int = EPOCHS,
    lr: float = LR,
    seed: int = SEED,
    ks: list[int] | None = None,
) -> DataFrame:
    """Reference protocol end-to-end with the CDAE scorer (rows-only —
    training is not SQL-expressible). Hyperparameters thread through to
    the trainer — the CLI's --epochs/--lr/--emb_size/--seed land here."""
    scores = cdae_scores(
        spark, sf_dir, "x", emb=emb, epochs=epochs, lr=lr, seed=seed
    ).unionByName(
        cdae_scores(spark, sf_dir, "y", emb=emb, epochs=epochs, lr=lr, seed=seed)
    )
    sp = splits(spark, sf_dir)
    holdout = sp.filter(F.col("split") == mode).select("user_id", "item_id", "domain")
    negs = negatives(spark, sf_dir)
    return eval_from_scores(scores, holdout, negs, ks=ks)


# -- checkpoint lifecycle (S4/R7 — reference torch.save/load of the best
# model, main_my.py:322-346,350-375) ----------------------------------------

_CKPT_SCHEMA = "name string, shape array<int>, data array<double>"


def save_cdae_checkpoint(
    spark: SparkSession, model: dict, domain: str, ckpt_dir: str
) -> None:
    """Persist the trained weight matrices as (name, shape, flat data)
    parquet rows — engine-agnostic, schema'd, no pickles."""
    rows = [
        (k, list(model[k].shape), model[k].ravel().tolist())
        for k in ("W1", "W2")
    ]
    spark.createDataFrame(rows, _CKPT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{ckpt_dir}/cdae_{domain}")


def load_cdae_checkpoint(
    spark: SparkSession, sf_dir: str, domain: str, ckpt_dir: str
) -> dict:
    """Rebuild a scoring-ready model dict: weights from parquet, item
    index and per-user frames re-derived from the tables."""
    model: dict = {}
    for r in spark.read.parquet(f"{ckpt_dir}/cdae_{domain}").collect():
        model[r["name"]] = np.array(r["data"], dtype=np.float64).reshape(
            tuple(r["shape"])
        )
    per_user, items, n_items = _train_frame(spark, sf_dir, domain)
    model.update({"per_user": per_user, "items": items, "n_items": n_items})
    return model


def cdae_reeval_from_checkpoint(
    spark: SparkSession,
    sf_dir: str,
    ckpt_dir: str,
    mode: str = "test",
    ks: list[int] | None = None,
) -> DataFrame:
    """R7 for the CDAE family: reload both domains' saved weights and
    re-run the eval protocol — must reproduce the live metrics exactly
    (pinned in tests/test_model.py)."""
    scores = cdae_scores_with(
        spark, sf_dir, "x", load_cdae_checkpoint(spark, sf_dir, "x", ckpt_dir)
    ).unionByName(
        cdae_scores_with(
            spark, sf_dir, "y", load_cdae_checkpoint(spark, sf_dir, "y", ckpt_dir)
        )
    )
    sp = splits(spark, sf_dir)
    hold = sp.filter(F.col("split") == mode).select("user_id", "item_id", "domain")
    return eval_from_scores(scores, hold, negatives(spark, sf_dir), ks=ks)


def cdae_eval_frozen(
    spark: SparkSession, sf_dir: str, mode: str = "test"
) -> DataFrame:
    """Hash-checkable split of ``cdae_eval``: freeze the trained scorer's
    (scores, holdout, negatives) to parquet and evaluate FROM the frozen
    copies, which ``frozen_eval_oracle('cdae_test')`` replays in DuckDB.
    Training (seeded, full-batch) stays outside SQL but everything
    downstream of it is hash-checked."""
    from ..operators.ranking import freeze_and_eval

    scores = cdae_scores(spark, sf_dir, "x").unionByName(
        cdae_scores(spark, sf_dir, "y")
    )
    sp = splits(spark, sf_dir)
    hold = sp.filter(F.col("split") == mode).select("user_id", "item_id", "domain")
    negs = negatives(spark, sf_dir)
    return freeze_and_eval(
        scores, hold, negs, f"cdae_{mode}", sf_dir,
        fingerprint=(
            f"cdae:v1:emb={EMB_SIZE},epochs={EPOCHS},lr={LR},seed={SEED},"
            f"drop={DROPOUT_NUM}/{DROPOUT_DEN}"
        ),
    )
