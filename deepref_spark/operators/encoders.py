"""Encoder-variant operators (SURVEY.md §2.3 K2-K4 + §2.4 M1/M3-M7):
the EBEM path (entity markers + semantic-knowledge tokens) and the
word+position CNN/PCNN/CRCNN/LSTM/GRU family, each as one fused Arrow
pass.

These widen coverage beyond the default bert_entity path in
operators/fused.py; selection mirrors the reference's `model` string
(train.py:138-254):
    bert_entity -> fused.extract_scored_fused
    bert_cls    -> score_cls
    ebem        -> score_ebem        (K2 + M3)
    cnn / pcnn / crcnn / lstm / gru
                -> score_cnn_family  (K3 [+K4] + M4/M5/M6/M7)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from deepref_spark import model as mdl

SCORED_SCHEMA = (
    "sent_id string, doc_id string, relation string, "
    "h_name string, t_name string, pred_id int, score double"
)


def score_ebem(spark: SparkSession, mentions: DataFrame, n_relations: int,
               max_length: int = 128, mask_entity: bool = False) -> DataFrame:
    """mentions (token, h, t, sk, ...) -> EBEM-scored rows. One fused
    crossing: batched K2 tokenize + M3 forward. The SK empty-fallback
    (missing/empty ses -> [name, name], semantic_knowledge.py:70-72)
    and the father/grandpa first/last extraction run JVM-side, so only
    four plain string columns cross into Python."""
    from pyspark.sql import functions as F

    weights_bc = spark.sparkContext.broadcast(mdl.build_ebem_weights(n_relations))

    def _ses(field: str, name: str) -> str:
        return (
            f"CASE WHEN sk IS NULL OR sk.{field} IS NULL OR size(sk.{field}) = 0 "
            f"THEN array({name}, {name}) ELSE sk.{field} END"
        )

    flat = mentions.select(
        "sent_id", "doc_id", "relation", "token",
        F.col("h.name").alias("h_name"), F.col("t.name").alias("t_name"),
        F.col("h.pos").getItem(0).alias("h0"), F.col("h.pos").getItem(1).alias("h1"),
        F.col("t.pos").getItem(0).alias("t0"), F.col("t.pos").getItem(1).alias("t1"),
        F.expr(f"element_at({_ses('ses1', 'h.name')}, 1)").alias("s1f"),
        F.expr(f"element_at({_ses('ses1', 'h.name')}, -1)").alias("s1l"),
        F.expr(f"element_at({_ses('ses2', 't.name')}, 1)").alias("s2f"),
        F.expr(f"element_at({_ses('ses2', 't.name')}, -1)").alias("s2l"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from deepref_spark.operators.tokenize_batch import ebem_tokenize_batch

        weights = None
        for pdf in batches:
            if not len(pdf):
                continue
            if weights is None:
                weights = mdl.cached_weights(weights_bc)
            ids, mask, p1, p2, sk1, sk2 = ebem_tokenize_batch(
                pdf["token"].to_numpy(),
                pdf["h0"].to_numpy(), pdf["h1"].to_numpy(),
                pdf["t0"].to_numpy(), pdf["t1"].to_numpy(),
                pdf["s1f"].to_numpy(), pdf["s1l"].to_numpy(),
                pdf["s2f"].to_numpy(), pdf["s2l"].to_numpy(),
                max_length=max_length, mask_entity=mask_entity,
            )
            pred, score = mdl.forward_ebem_batch(weights, ids, mask, p1, p2, sk1, sk2)
            out = {c: pdf[c].to_numpy() for c in _PASS_COLS}
            yield pd.DataFrame({**out, "pred_id": pred, "score": score})

    return flat.mapInPandas(run, schema=SCORED_SCHEMA)


def _flat_mentions(mentions: DataFrame) -> DataFrame:
    """Prune + flatten the mention table BEFORE the Python crossing.

    mapInPandas ships its input schema verbatim — Catalyst cannot prune
    columns through the opaque UDF, so without this select every batch
    Arrow-serializes pos_tags/deps/ner arrays the scorer never reads
    (and computes them upstream). Flattening h/t structs to int columns
    also lands positions as numpy ints instead of per-row dicts."""
    from pyspark.sql import functions as F

    return mentions.select(
        "sent_id", "doc_id", "relation", "token",
        F.col("h.name").alias("h_name"), F.col("t.name").alias("t_name"),
        F.col("h.pos").getItem(0).alias("h0"), F.col("h.pos").getItem(1).alias("h1"),
        F.col("t.pos").getItem(0).alias("t0"), F.col("t.pos").getItem(1).alias("t1"),
    )


def _batch_tokenize(pdf: pd.DataFrame, max_length: int):
    from deepref_spark.operators.tokenize_batch import bert_entity_tokenize_batch

    return bert_entity_tokenize_batch(
        pdf["token"].to_numpy(),
        pdf["h0"].to_numpy(), pdf["h1"].to_numpy(),
        pdf["t0"].to_numpy(), pdf["t1"].to_numpy(),
        max_length=max_length,
    )


_PASS_COLS = ("sent_id", "doc_id", "relation", "h_name", "t_name")


def score_cls(spark: SparkSession, mentions: DataFrame, n_relations: int,
              max_length: int = 128) -> DataFrame:
    """bert_cls path (M1): K1 tokenize (vectorized batch kernel),
    pooled-[CLS] forward."""
    weights_bc = spark.sparkContext.broadcast(mdl.build_weights(n_relations))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = None
        for pdf in batches:
            if not len(pdf):
                continue
            if weights is None:
                weights = mdl.cached_weights(weights_bc)
            ids, mask, _, _ = _batch_tokenize(pdf, max_length)
            pred, score = mdl.forward_cls_batch(weights, ids, mask)
            out = {c: pdf[c].to_numpy() for c in _PASS_COLS}
            yield pd.DataFrame({**out, "pred_id": pred, "score": score})

    return _flat_mentions(mentions).mapInPandas(run, schema=SCORED_SCHEMA)


def score_cnn_family(spark: SparkSession, mentions: DataFrame, n_relations: int,
                     max_length: int = 128, piecewise: bool = False,
                     encoder: str | None = None, seed: int = 0) -> DataFrame:
    """cnn/pcnn/crcnn/lstm/gru path: K3 word+position tokenize (+K4
    segment mask for pcnn) and the M4/M5/M6/M7 forwards — the full
    word-embedding encoder family from train.py:138-254's model switch.
    ``encoder`` overrides the legacy ``piecewise`` flag."""
    encoder = encoder or ("pcnn" if piecewise else "cnn")
    assert encoder in ("cnn", "pcnn", "crcnn", "lstm", "gru")
    if encoder in ("lstm", "gru"):
        base = mdl.SEED + (3 if encoder == "lstm" else 4)
        built = mdl.build_rnn_weights(n_relations, kind=encoder, max_length=max_length,
                                      seed=base + 1009 * seed)
    else:
        built = mdl.build_cnn_weights(n_relations, max_length=max_length,
                                      seed=mdl.SEED + 2 + 1009 * seed)
    weights_bc = spark.sparkContext.broadcast(built)
    need_seg = encoder == "pcnn"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from deepref_spark.operators.tokenize_batch import (
            pcnn_segment_mask_batch,
            word_position_tokenize_batch,
        )

        weights = None
        for pdf in batches:
            if not len(pdf):
                continue
            if weights is None:
                weights = mdl.cached_weights(weights_bc)
            toks = pdf["token"].to_numpy()
            h0 = pdf["h0"].to_numpy()
            t0 = pdf["t0"].to_numpy()
            ids_a, p1_a, p2_a = word_position_tokenize_batch(toks, h0, t0, max_length)
            if encoder == "pcnn":
                n_tok = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
                seg = pcnn_segment_mask_batch(n_tok, h0, t0, max_length)
                pred, score = mdl.forward_pcnn_batch(weights, ids_a, p1_a, p2_a, seg)
            elif encoder == "crcnn":
                pred, score = mdl.forward_crcnn_batch(weights, ids_a, p1_a, p2_a)
            elif encoder in ("lstm", "gru"):
                pred, score = mdl.forward_rnn_batch(weights, ids_a, p1_a, p2_a)
            else:
                pred, score = mdl.forward_cnn_batch(weights, ids_a, p1_a, p2_a)
            out = {c: pdf[c].to_numpy() for c in _PASS_COLS}
            yield pd.DataFrame({**out, "pred_id": pred, "score": score})

    return _flat_mentions(mentions).mapInPandas(run, schema=SCORED_SCHEMA)


def score_entity(spark: SparkSession, mentions: DataFrame, n_relations: int,
                 max_length: int = 128, seed: int = 0) -> DataFrame:
    """bert_entity path fused for structured mention rows (K1 + M2 in
    one crossing) — the mention-table twin of fused.extract_scored_fused
    (which starts from tagged text). Tokenization runs through the
    vectorized batch kernel (tokenize_batch.py): zero per-row Python;
    the input is pruned/flattened JVM-side before the Arrow transfer."""
    weights_bc = spark.sparkContext.broadcast(
        mdl.build_weights(n_relations, seed=mdl.SEED + 1009 * seed)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = None
        for pdf in batches:
            if not len(pdf):
                continue
            if weights is None:
                weights = mdl.cached_weights(weights_bc)
            ids, mask, p1, p2 = _batch_tokenize(pdf, max_length)
            pred, score = mdl.forward_batch(weights, ids, mask, p1, p2)
            out = {c: pdf[c].to_numpy() for c in _PASS_COLS}
            yield pd.DataFrame({**out, "pred_id": pred, "score": score})

    return _flat_mentions(mentions).mapInPandas(run, schema=SCORED_SCHEMA)
