"""Spark-free reference outputs for the benchmark's correctness checks.

Restates the golden-fixture oracle (``ner_spark/fixtures/build.py``) in
memory: row-wise Viterbi (``oracle/reference.viterbi_decode``), per-row
BIO extraction, pure-Python MinHash-LSH, union-find CC and the graph
materialization rules of ``ner_spark/kg.py``. None of it touches Spark,
so a match against the pipeline's published stages is a cross-
implementation check. Computed once per (workload, seed) and cached.
"""

from __future__ import annotations

import pandas as pd

from ner_spark import kg
from ner_spark.fixtures.build import _mention_spans
from ner_spark.model.tagger import TAG_NAMES, token_logits_batch
from ner_spark.oracle.reference import extract_bio, viterbi_decode


def tag_oracle(tdf: pd.DataFrame) -> tuple[set, list]:
    """Row-wise decode + BIO extraction: the triples set
    (conv_id, turn_idx, subj, pred, obj) and the mention occurrences
    (conv_id, turn_idx, type, text, span_start)."""
    from ner_spark.model import tagger

    trans = tagger._TRANSITIONS  # the active weights, as the workers use
    triples: set = set()
    mentions: list[tuple[str, int, str, str, int]] = []
    for conv, ti, text in zip(tdf["conv_id"], tdf["turn_idx"], tdf["text"]):
        ti = int(ti)
        toks = text.split(" ")
        path = viterbi_decode(token_logits_batch([toks])[0], trans)
        tags = [TAG_NAMES[i] for i in path]
        subj = f"{conv}#{ti}"
        for typ, txt in extract_bio(tags, toks):
            triples.add((conv, ti, subj, typ, txt))
        for typ, txt, s, _e in _mention_spans(tags, toks):
            mentions.append((conv, ti, typ, txt, s))
    return triples, mentions


def kg_oracle(triples: set, mentions: list) -> dict:
    """Reference KG from ``tag_oracle``'s output.

    Returns sets of row tuples in the pipeline's column order:
    ``triples``, ``link_edges`` (node_a, node_b), ``assignment``
    (node_id, component), ``nodes`` (entity_id, entity_type,
    canonical_name, n_surfaces, n_mentions) and ``edges`` (src_entity,
    pred, dst_entity, n_turns); plus the node list and the LSH candidate
    pairs, from which the benchmark derives its blocking counts."""
    # relations: distinct (conv, turn, subj_type, subj, pred, obj_type, obj)
    by_turn: dict[tuple[str, int], list[tuple[str, str, int]]] = {}
    for conv, ti, typ, txt, s in mentions:
        by_turn.setdefault((conv, ti), []).append((typ, txt, s))
    relations = {
        (conv, ti, *r)
        for (conv, ti), ms in by_turn.items()
        for r in kg.relate_mentions(ms)
    }

    # linking: nodes = distinct (type, normalized surface); LSH banding
    mention_nodes = [kg.node_key(typ, kg.normalize_surface(txt)) for _c, _t, typ, txt, _s in mentions]
    nodes = sorted(set(mention_nodes))
    shingles = {n: kg.char_shingles(n.split("|", 1)[1]) for n in nodes}
    buckets: dict[str, list[str]] = {}
    for n in nodes:
        for bk in kg.band_keys(n.split("|", 1)[0], kg.minhash_signature(shingles[n])):
            buckets.setdefault(bk, []).append(n)
    cand: set = set()
    for members in buckets.values():
        members = sorted(set(members))
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                cand.add((a, b))
    link_edges = {
        (a, b) for a, b in cand if kg.jaccard(shingles[a], shingles[b]) >= kg.JACCARD_THRESHOLD
    }
    cmap = kg.connected_components(nodes, sorted(link_edges))

    # graph materialization
    n_mentions: dict[str, int] = {}
    for n in mention_nodes:
        n_mentions[cmap[n]] = n_mentions.get(cmap[n], 0) + 1
    n_surfaces: dict[str, int] = {}
    for n in nodes:
        n_surfaces[cmap[n]] = n_surfaces.get(cmap[n], 0) + 1
    graph_nodes = {
        (c, *c.split("|", 1), n_surfaces[c], n_mentions[c]) for c in n_surfaces
    }
    e_turns: dict[tuple[str, str, str], set] = {}
    for conv, ti, st, sx, pred, ot, ox in relations:
        s_id = cmap[kg.node_key(st, kg.normalize_surface(sx))]
        o_id = cmap[kg.node_key(ot, kg.normalize_surface(ox))]
        e_turns.setdefault((s_id, pred, o_id), set()).add((conv, ti))
    graph_edges = {(s, p, d, len(v)) for (s, p, d), v in e_turns.items()}

    return {
        "triples": triples,
        "link_edges": link_edges,
        "assignment": set(cmap.items()),
        "nodes": graph_nodes,
        "edges": graph_edges,
        "node_list": nodes,
        "candidates": cand,
    }
