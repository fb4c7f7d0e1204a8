"""Single-node local oracle: the full pipeline as plain Python over lists.

Used by parity tests (SURVEY.md §5): the Spark output must match this
exactly, row for row — Spark adds distribution, never semantics. The
sentencize/distill logic is re-expressed here with the same regex/sort
semantics as the declarative Spark stages; the kernel is literally the same
code (deepex_spark.kernel.sentence_kernel).
"""

from __future__ import annotations

import re

from deepex_spark.config import DeepExConfig
from deepex_spark.functions.text import blank_parens_py
from deepex_spark.kernel.sentence_kernel import process_sentence
from deepex_spark.nlp.attention import get_attention_provider
from deepex_spark.operators.distill import SENT_PREFIX
from deepex_spark.operators.rerank import candidate_distances, require_symmetric_encoder

# re.ASCII mirrors Java regex \s (no UNICODE_CHARACTER_CLASS); trim is
# ' '-only to match F.trim exactly (SPARK-17299) — same doc-edge
# tab/newline behavior as the Spark scan mode
_BOUNDARY = re.compile(r"([.!?])\s+", re.ASCII)
_NON_ASCII = re.compile(r"[^\x00-\x7F]+")


def local_sentencize(text: str) -> list[tuple[int, int, str]]:
    """(sent_pos, sent_offset, sent_text) — same as functions.sentencize."""
    marked = _BOUNDARY.sub(lambda m: m.group(1) + "\x01", text)
    out = []
    for pos, raw in enumerate(marked.split("\x01")):
        s = raw.strip(" ")
        if s:
            out.append((pos, text.find(s), s))
    return out


def local_candidates(pages: list[tuple[str, str]], cfg: DeepExConfig) -> list[dict]:
    if cfg.rerank_sorted:
        require_symmetric_encoder(cfg)
    provider = get_attention_provider(cfg)
    rows = []
    sent_cache: dict = {}
    for docid, text in pages:
        norm = blank_parens_py(text)
        for pos, off, sent in local_sentencize(norm):
            for r in process_sentence(docid, off, sent, cfg, provider):
                r["sent_pos"] = pos
                if cfg.rerank_sorted:
                    r["dis_fwd"], r["dis_rev"] = candidate_distances(
                        r["sent_text"], r["subj"], r["rel"], r["obj"],
                        cfg.encoder_dim, sent_cache,
                    )
                rows.append(r)
    return rows


def _rank_score(r: dict, dedup_ranking_type: str) -> float:
    if dedup_ranking_type == "freq":
        return float(r["freq"])
    if dedup_ranking_type == "score":
        return r["score"]
    if dedup_ranking_type == "score_freq":
        return r["score"] / r["freq"]
    if dedup_ranking_type == "score_freq_len":
        return r["score"] / (r["freq"] * len(r["triple_key"].strip().split(" ")))
    if dedup_ranking_type == "score_len":
        return r["score"] / r["attended_len"]
    raise ValueError(dedup_ranking_type)


def local_distill(cands: list[dict], cfg: DeepExConfig) -> list[dict]:
    tri = []
    for c in cands:
        rel = _NON_ASCII.sub(" ", c["rel"]).strip()
        if not rel:
            continue
        score = _rank_score(c, cfg.dedup_ranking_type)
        sentence = SENT_PREFIX + c["sent_text"]
        base = {
            "docid": c["docid"],
            "rel": rel,
            "sentence": sentence,
            "score": score,
            "offset": c["sent_offset"],
            "sent_pos": c["sent_pos"],
            "cand_rank": c["cand_rank"],
        }
        tri.append(
            {**base, "subj": c["subj"], "subj_s": c["subj_s"], "subj_e": c["subj_e"],
             "obj": c["obj"], "obj_s": c["obj_s"], "obj_e": c["obj_e"], "is_rev": 0,
             **({"contrastive_dis": c["dis_fwd"]} if "dis_fwd" in c else {})}
        )
        tri.append(
            {**base, "subj": c["obj"], "subj_s": c["obj_s"], "subj_e": c["obj_e"],
             "obj": c["subj"], "obj_s": c["subj_s"], "obj_e": c["subj_e"], "is_rev": 1,
             **({"contrastive_dis": c["dis_rev"]} if "dis_rev" in c else {})}
        )
    # per-doc sort identical to the distill window
    tri.sort(key=lambda r: (r["docid"], -r["score"], r["sent_pos"], r["cand_rank"], r["is_rev"]))
    out = []
    last_doc = None
    rank = 0
    for r in tri:
        if r["docid"] != last_doc:
            rank = 0
            last_doc = r["docid"]
        rank += 1
        out.append({**r, "doc_rank": rank})
    return out


def local_rerank(triples: list[dict], cfg: DeepExConfig) -> list[dict]:
    triples.sort(
        key=lambda r: (r["docid"], r["contrastive_dis"], r["sent_pos"], r["cand_rank"], r["is_rev"])
    )
    out = []
    last_doc = None
    rank = 0
    for r in triples:
        if r["docid"] != last_doc:
            rank = 0
            last_doc = r["docid"]
        rank += 1
        out.append({**r, "rank": rank})
    return out


def local_pipeline(pages: list[tuple[str, str]], cfg: DeepExConfig, rerank: bool = True):
    from dataclasses import replace

    cfg = replace(cfg, rerank_sorted=rerank)
    tri = local_distill(local_candidates(pages, cfg), cfg)
    if rerank:
        return local_rerank(tri, cfg)
    for r in tri:
        r["rank"] = r["doc_rank"]
    return tri
