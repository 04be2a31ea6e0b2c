"""Driver-side replay of the fused extraction kernel's batch loop.

``fused.extract_scored_fused`` runs parse, preprocess, tokenize and the
encoder forward inside one mapInPandas crossing, so Spark only sees
the crossing as a whole. The replay collects sentence batches to the
driver and calls the same public kernels in the same order, one phase
at a time over each batch, timing each phase and diffing the kernels'
memo sizes. Phasing the row loop (parse every row, then preprocess
every row) gives the same rows as the fused interleaving: every kernel
is per-row and a row that raises is dropped either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from deepref_spark import model as mdl
from deepref_spark import nlp, refsem
from deepref_spark.operators import tokenize_batch
from deepref_spark.operators.tokenize_batch import bert_entity_tokenize_batch

SKIP = (ValueError, IndexError, AssertionError)  # the fused kernel's drop set
MAX_LENGTH = 128  # extract_scored's default
ENTITY_REPLACEMENT = "ENTITY"  # extract_scored_fused's default


def replay(batches: list[pd.DataFrame], weights: dict, preprocessing: list[str] | None,
           tracer, stats: dict) -> pd.DataFrame:
    """Scored rows for ``batches`` (columns doc_id, sent_id, relation,
    tagged); per-phase counts accumulate into ``stats``."""
    kinds = refsem.normalize_preproc(preprocessing or [])
    tagger = nlp.get_tagger("ruletag")
    out = []

    def bump(k, v):
        stats[k] = stats.get(k, 0) + v

    for pdf in batches:
        with tracer.span("replay.batch", rows=len(pdf)):
            rows = list(zip(pdf["doc_id"], pdf["sent_id"], pdf["relation"], pdf["tagged"]))
            tag_memo = len(nlp._RULE_TAG_MEMO)
            kept, mentions = [], []
            with tracer.span("parse"):
                for doc_id, sent_id, relation, tagged in rows:
                    try:
                        mentions.append(refsem.build_mention(tagged, relation, tagger))
                    except SKIP:
                        continue
                    kept.append((sent_id, doc_id, relation))
            bump("parse.rows", len(rows))
            bump("parse.skipped", len(rows) - len(kept))
            bump("parse.tag_memo_new", max(0, len(nlp._RULE_TAG_MEMO) - tag_memo))
            if kinds:
                pre_kept, pre_m = [], []
                with tracer.span("preprocess"):
                    for k, m in zip(kept, mentions):
                        try:
                            pre_m.append(refsem.apply_preprocessing(m, kinds, ENTITY_REPLACEMENT))
                        except SKIP:
                            continue
                        pre_kept.append(k)
                bump("preprocess.skipped", len(kept) - len(pre_kept))
                kept, mentions = pre_kept, pre_m
            if not kept:
                continue
            toks = [m.token for m in mentions]
            flat = [w for t in toks for w in t]
            n_unique = len(pd.unique(np.asarray(flat, dtype=object))) if flat else 0
            word_memo = len(tokenize_batch._WORD_IDS)
            with tracer.span("tokenize"):
                ids, mask, p1, p2 = bert_entity_tokenize_batch(
                    toks, [m.h["pos"][0] for m in mentions], [m.h["pos"][1] for m in mentions],
                    [m.t["pos"][0] for m in mentions], [m.t["pos"][1] for m in mentions],
                    max_length=MAX_LENGTH)
            bump("tokenize.unique_words", n_unique)
            bump("tokenize.memo_new", max(0, len(tokenize_batch._WORD_IDS) - word_memo))
            with tracer.span("forward"):
                pred, score = mdl.forward_batch(weights, ids, mask, p1, p2)
            bump("forward.rows", len(pred))
            bump("forward.macs", forward_macs(weights, len(pred)))
            out.append(pd.DataFrame({
                "sent_id": [k[0] for k in kept], "doc_id": [k[1] for k in kept],
                "relation": [k[2] for k in kept],
                "h_name": [m.h["name"] for m in mentions], "t_name": [m.t["name"] for m in mentions],
                "pred_id": pred, "score": score,
            }))
    if not out:
        return pd.DataFrame(columns=["sent_id", "doc_id", "relation", "h_name", "t_name", "pred_id", "score"])
    return pd.concat(out, ignore_index=True)


def forward_macs(weights: dict, rows: int) -> int:
    """Multiply-accumulates of the encoder head for ``rows`` rows, from
    the weight shapes: the hidden (2H x 2H) and output (2H x N) layers."""
    w_lin, w_fc = weights["w_lin"], weights["w_fc"]
    return int(rows * (w_lin.shape[0] * w_lin.shape[1] + w_fc.shape[0] * w_fc.shape[1]))


def parity(replayed: pd.DataFrame, spark_rows: list) -> tuple[bool, str]:
    """The replay must produce exactly the rows Spark produced: the same
    sentence ids (so the same drops), names and predicted class, and
    scores equal to float tolerance."""
    s = pd.DataFrame([r.asDict() for r in spark_rows],
                     columns=["sent_id", "h_name", "t_name", "pred_id", "score"])
    a = replayed.set_index("sent_id").sort_index()
    b = s.set_index("sent_id").sort_index()
    if list(a.index) != list(b.index):
        return False, f"row sets differ: replay {len(a)} rows, spark {len(b)} rows"
    for col in ("h_name", "t_name", "pred_id"):
        if not (a[col].astype(str).values == b[col].astype(str).values).all():
            return False, f"column {col} differs"
    if not np.allclose(a["score"].astype(float).values, b["score"].astype(float).values,
                       rtol=0, atol=1e-9):
        return False, "scores differ beyond 1e-9"
    return True, f"{len(a)} rows"
