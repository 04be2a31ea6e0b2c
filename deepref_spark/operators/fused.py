"""Fused extraction operator: parse + preprocess + tokenize + score in
ONE Arrow-batched mapInPandas pass.

The modular operators (parse.py / preprocess.py / tokenize.py /
score.py) each cost a JVM<->Python crossing per batch; chained, that is
3-4 crossings plus Arrow serialization of the wide intermediate rows.
Since no shuffle is needed between those stages (all row-local), the
production plan fuses them: one crossing, one pandas batch in, scored
rows out — the Spark analogue of operator fusion / whole-stage codegen
for the Python part of the pipeline. Kernels are the exact same
functions the modular operators use, so outputs are bit-identical
(tests assert this).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from deepref_spark import model as mdl
from deepref_spark import refsem
from deepref_spark.nlp import get_tagger

SCORED_SCHEMA = (
    "sent_id string, doc_id string, relation string, "
    "h_name string, t_name string, pred_id int, score double"
)


def extract_scored_fused(
    spark: SparkSession,
    sentences: DataFrame,
    n_relations: int,
    preprocessing: list[str] | None = None,
    entity_replacement: str = "ENTITY",
    max_length: int = 128,
    tagger_backend: str = "ruletag",
) -> DataFrame:
    """sentences (doc_id, span_idx, sent_id, relation, tagged) ->
    scored mentions, one python crossing."""
    kinds = refsem.normalize_preproc(preprocessing or [])
    weights_bc = spark.sparkContext.broadcast(mdl.build_weights(n_relations))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from deepref_spark.operators.tokenize_batch import bert_entity_tokenize_batch

        tagger = get_tagger(tagger_backend)
        weights = None
        for pdf in batches:
            if not len(pdf):
                continue
            if weights is None:
                weights = mdl.cached_weights(weights_bc)
            sent_ids, doc_ids, relations, h_names, t_names = [], [], [], [], []
            toks_l, h0_l, h1_l, t0_l, t1_l = [], [], [], [], []
            # parse/preprocess stay per-row (stateful string kernels);
            # tokenize + id-mapping run vectorized over the whole batch.
            for doc_id, sent_id, relation, tagged in zip(
                pdf["doc_id"], pdf["sent_id"], pdf["relation"], pdf["tagged"]
            ):
                try:
                    m = refsem.build_mention(tagged, relation, tagger)
                    if kinds:
                        m = refsem.apply_preprocessing(m, kinds, entity_replacement)
                except (ValueError, IndexError, AssertionError):
                    continue
                sent_ids.append(sent_id)
                doc_ids.append(doc_id)
                relations.append(relation)
                h_names.append(m.h["name"])
                t_names.append(m.t["name"])
                toks_l.append(m.token)
                h0_l.append(m.h["pos"][0])
                h1_l.append(m.h["pos"][1])
                t0_l.append(m.t["pos"][0])
                t1_l.append(m.t["pos"][1])
            if not sent_ids:
                continue
            ids, mask, p1, p2 = bert_entity_tokenize_batch(
                toks_l, h0_l, h1_l, t0_l, t1_l, max_length=max_length
            )
            pred, score = mdl.forward_batch(weights, ids, mask, p1, p2)
            yield pd.DataFrame({
                "sent_id": sent_ids, "doc_id": doc_ids, "relation": relations,
                "h_name": h_names, "t_name": t_names,
                "pred_id": pred, "score": score,
            })

    return sentences.mapInPandas(run, schema=SCORED_SCHEMA)
