"""Driver-side, single-core run of the tagger UDF body, layer by layer.

Replays what ``operators/tagging.py:tag_and_extract`` does per Arrow
batch — tokenize, ``token_logits_batch``, ``viterbi_batch``,
``tag_id_to_name``, ``mention_dicts`` — over the workload's own turns in
batches of the session's Arrow batch size, timing each call. The logit
memo is warmed by one untimed pass first, as it is in the executors
after the warm pass.
"""

from __future__ import annotations

import time


def tagger_layers(texts: list[str], batch_rows: int) -> dict[str, float]:
    from ner_spark.model import tagger
    from ner_spark.model.artifact import maybe_install_from_runtime
    from ner_spark.operators.extraction import mention_dicts

    maybe_install_from_runtime()
    batches = [texts[i : i + batch_rows] for i in range(0, len(texts), batch_rows)]
    tagger._LOGIT_CACHE.clear()
    for b in batches:
        tagger.token_logits_batch([t.split(" ") if t else [] for t in b])

    t = dict.fromkeys(("tokenize", "logits", "viterbi", "names", "spans"), 0.0)
    for b in batches:
        t0 = time.perf_counter()
        toks = [x.split(" ") if x else [] for x in b]
        t1 = time.perf_counter()
        logits = tagger.token_logits_batch(toks)
        t2 = time.perf_counter()
        paths = tagger.viterbi_batch(logits)
        t3 = time.perf_counter()
        tags = [tagger.tag_id_to_name(p) for p in paths]
        t4 = time.perf_counter()
        for tk, tg in zip(toks, tags):
            mention_dicts(tg, tk)
        t5 = time.perf_counter()
        t["tokenize"] += t1 - t0
        t["logits"] += t2 - t1
        t["viterbi"] += t3 - t2
        t["names"] += t4 - t3
        t["spans"] += t5 - t4
    t["memo_entries"] = float(len(tagger._LOGIT_CACHE))
    return t
