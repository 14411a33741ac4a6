"""Tagging operator: vectorized forward pass + batched NumPy Viterbi.

Spark restatement of the reference's inference path (SURVEY §3 EP3): the
reference splits inference into a vectorizable NN forward in a columnar
runtime plus a control-flow Viterbi DP in NumPy
(/root/reference/predict.py:24,63-65 — chosen because ONNX cannot express
the CRF decode's ``Switch`` control flow, README.md:92-118). Here the
columnar runtime is Spark itself: ``mapInPandas`` streams Arrow record
batches into a Python worker where the deterministic model (weights
resident once per executor — the analogue of
/root/reference/torch_version/predict_lstm.py:50-51) scores every token of
the batch at once and a *batch-vectorized* Viterbi (one DP loop over time,
all rows in parallel) decodes tag ids.

Padding is per Arrow batch (dynamic batch max, exactly the reference's
pad-to-batch-max trade — /root/reference/utils.py:103-108), sized by
``spark.sql.execution.arrow.maxRecordsPerBatch``.

Every tagging task checks, before its first batch, that its worker
resolves the weights version the driver resolved when it built the plan
(``model.artifact.require_weights``): a worker on another model fails the
job instead of tagging under the wrong manifest fingerprint.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ner_spark.model.artifact import active_weights_version

TAGS_FIELD = T.StructField("tags", T.ArrayType(T.StringType()), False)


def _mentions_field() -> T.StructField:
    # single source of truth for the mention record shape
    from ner_spark.operators.extraction import MENTION_TYPE

    return T.StructField("mentions", MENTION_TYPE, False)


def tag_and_extract(df: DataFrame) -> DataFrame:
    """Fused tag+extract: one mapInPandas stage appending ``tags`` (BIO
    tag string per whitespace token of ``text``) AND ``mentions``.

    Row-local — no shuffle. Running both in a single Python stage halves
    the JVM↔Python Arrow traffic of the hot path — an unfused plan would
    serialize every batch back to the JVM after tagging only to ship it
    (plus a re-tokenized copy) straight into an extraction UDF.
    Tokenization happens once in Python and is shared by the tagger and
    the span extractor. ``mentions`` equals ``extract_mentions_bio`` over
    the stage's own ``tags`` and ``split(text, ' ')`` (asserted in
    tests); that UDF stays the extractor for tag sequences read from
    elsewhere (the noisy-tag queries).
    """
    out_schema = T.StructType(
        df.schema.fields + [TAGS_FIELD, _mentions_field()]
    )
    cols = [f.name for f in df.schema.fields]
    expected = active_weights_version()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # heavy import inside the worker: weights + memo live per executor
        from ner_spark.model.artifact import require_weights
        from ner_spark.model.tagger import tag_tokens_batch
        from ner_spark.operators.extraction import mention_dicts
        from ner_spark.session import release_zip_finders

        # artifact weights (--files/--archives/SparkFiles) install once
        # per worker process and must match the driver's version;
        # memoized dict lookup afterwards
        require_weights(expected)
        try:
            for pdf in batches:
                token_lists = [t.split(" ") if t else [] for t in pdf["text"]]
                tags_col = tag_tokens_batch(token_lists)
                mentions = [
                    mention_dicts(tags, toks)
                    for toks, tags in zip(token_lists, tags_col)
                ]
                pdf = pdf[cols].copy()
                pdf["tags"] = tags_col
                pdf["mentions"] = mentions
                yield pdf
        finally:
            # so the next task's invalidate_caches() re-reads no zip
            release_zip_finders()

    return df.mapInPandas(run, schema=out_schema)
