#!/usr/bin/env python
"""Skew-hostile benchmark for the salted block self-join.

The salted split (ner_spark/functions/dedup.py:_salted_block_self_join)
claims BOUNDED task times on pathological inputs — a single block far
above salt_threshold whose quadratic enumeration would otherwise run in
ONE task. This tool measures that claim directly instead of asserting
it: a deterministic fixture with one hot block (same language, same
length bucket, near-identical texts ⇒ also one hot SimHash band family)
runs `token_jaccard_pairs` and `simhash_band_pairs` twice each —
salting disabled (salt_threshold > |corpus|, the naive plan) vs the
default salted split — and reports, from the Spark UI REST API, the
per-task duration distribution (n tasks, max, p99) of every stage each
query executed, plus wall time. Pair outputs are counted both ways and
must be identical (the split is result-preserving).

Usage: python tools/bench_skew.py [--hot N] [--tail N] [--cpus K]
Prints one JSON line; paste the table into BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def make_skewed_docs(spark, n_hot: int, n_tail: int, swaps: int = 3):
    """One pathological block + a benign tail, deterministically.

    Hot docs: all lang='hot', ~60 distinct tokens each (one length
    bucket), each a light perturbation of one base text — so they also
    share SimHash band values (near-identical hashes), making the same
    rows hot for BOTH pair generators. Tail docs: random texts over 20
    languages (normal blocking)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    vocab = np.array([f"tok{i:03d}" for i in range(400)])
    base = vocab[rng.choice(400, size=60, replace=False)]
    rows = []
    for i in range(n_hot):
        toks = base.copy()
        # perturb `swaps` of 60 positions (default 3: J >= 57/63 ~ 0.90 vs
        # base, SimHash majority vote barely moves; 0 = exact copies, the
        # most hostile SimHash band block: every hot doc in the same 4
        # band buckets)
        if swaps:
            idx = rng.choice(60, size=swaps, replace=False)
            toks[idx] = vocab[rng.choice(400, size=swaps)]
        rows.append((i, "hot", " ".join(toks)))
    for j in range(n_tail):
        lang = f"l{j % 20:02d}"
        toks = vocab[rng.choice(400, size=int(rng.randint(8, 120)))]
        rows.append((n_hot + j, lang, " ".join(toks)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    return spark.createDataFrame(pdf)


def make_skewed_names(spark, n_hot: int, n_tail: int):
    """Pathological alias corpus: one hot PassJoin key, deterministically.

    Hot names: same type, same length (30 bytes), IDENTICAL first 10
    bytes — with d=2 the even 3-split makes segment 0 of every hot name
    the same string, so the single key (type, 30, 0, prefix) carries an
    n_hot x n_hot candidate block that a plain equi-join evaluates (and
    banded-levenshtein-verifies) in ONE task. Random 20-byte suffixes
    keep true matches rare — the cost IS the verification fan-out.
    Tail names: random lengths/types (normal blocking)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(11)
    abc = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    rows = []
    for i in range(n_hot):
        suffix = "".join(rng.choice(abc, size=20))
        rows.append((f"h{i:06d}", "org", "acmecorpx_" + suffix))
    for j in range(n_tail):
        ln = int(rng.randint(3, 25))
        rows.append(
            (f"t{j:06d}", f"ty{j % 5}", "".join(rng.choice(abc, size=ln)))
        )
    pdf = pd.DataFrame(
        rows, columns=["entity_id", "entity_type", "canonical_name"]
    )
    return spark.createDataFrame(pdf)


def _api(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.loads(r.read())


def completed_stage_ids(spark) -> set[int]:
    try:
        return {s["stageId"] for s in _api(spark, "/stages?status=complete")}
    except Exception:
        return set()


def task_durations_since(spark, before: set[int]) -> list[float]:
    """All task durations (seconds) of stages completed since `before`."""
    out: list[float] = []
    for s in _api(spark, "/stages?status=complete"):
        if s["stageId"] in before:
            continue
        tasks = _api(
            spark,
            f"/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000",
        )
        out.extend(t["duration"] / 1000.0 for t in tasks if "duration" in t)
    return out


def measure(spark, name: str, fn) -> dict:
    before = completed_stage_ids(spark)
    t0 = time.time()
    n = fn()
    wall = time.time() - t0
    durs = sorted(task_durations_since(spark, before))
    p99 = durs[max(0, int(len(durs) * 0.99) - 1)] if durs else None
    return {
        "query": name,
        "wall_sec": round(wall, 2),
        "rows": n,
        "n_tasks": len(durs),
        "max_task_sec": round(durs[-1], 2) if durs else None,
        "p99_task_sec": round(p99, 2) if p99 is not None else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hot", type=int, default=2000)
    ap.add_argument("--tail", type=int, default=1000)
    ap.add_argument("--swaps", type=int, default=3)
    ap.add_argument(
        "--skip", default="",
        help="comma list of families to skip: jaccard,simhash,alias"
    )
    ap.add_argument(
        "--no-naive",
        action="store_true",
        help="skip the unsalted legs (a big hot block's naive plan can run half an hour in one task)",
    )
    ap.add_argument("--salt-threshold", type=int, default=512)
    ap.add_argument(
        "--fixed-salts",
        type=int,
        default=0,
        help="also run with the salt count FORCED to this value (max_salts=n_salts=K) to compare fixed vs adaptive salting",
    )
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1)))
    args = ap.parse_args()
    skip = set(args.skip.split(",")) if args.skip else set()

    from ner_spark.functions.dedup import (
        release_persisted_blocks,
        simhash_band_pairs,
        token_jaccard_pairs,
    )
    from ner_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.cpus}]",
        app_name="ner_spark_skew_bench",
        extra_conf={"spark.ui.enabled": "true"},
    )
    docs = make_skewed_docs(spark, args.hot, args.tail, swaps=args.swaps).cache()
    docs.count()

    naive = args.hot + args.tail + 1  # salt_threshold above any block size
    st = args.salt_threshold
    fs = args.fixed_salts
    todo = []
    if "jaccard" not in skip:
        if not args.no_naive:
            todo.append(
                (
                    "token_jaccard_naive",
                    lambda: token_jaccard_pairs(docs, salt_threshold=naive).count(),
                )
            )
        if fs:
            todo.append(
                (
                    f"token_jaccard_fixed{fs}",
                    lambda: token_jaccard_pairs(
                        docs, salt_threshold=st, n_salts=fs, max_salts=fs
                    ).count(),
                )
            )
        todo.append(
            (
                "token_jaccard_salted",
                lambda: token_jaccard_pairs(docs, salt_threshold=st).count(),
            )
        )
    if "simhash" not in skip:
        if not args.no_naive:
            todo.append(
                (
                    "simhash_bands_naive",
                    lambda: simhash_band_pairs(docs, salt_threshold=naive).count(),
                )
            )
        if fs:
            todo.append(
                (
                    f"simhash_bands_fixed{fs}",
                    lambda: simhash_band_pairs(
                        docs, salt_threshold=st, n_salts=fs, max_salts=fs
                    ).count(),
                )
            )
        todo.append(
            (
                "simhash_bands_salted",
                lambda: simhash_band_pairs(docs, salt_threshold=st).count(),
            )
        )
    if "alias" not in skip:
        from ner_spark.operators.alias import alias_pairs

        names = make_skewed_names(spark, args.hot, args.tail).cache()
        names.count()
        if not args.no_naive:
            todo.append(
                (
                    "alias_pairs_naive",
                    # budget 10^12 pairs: no key salts — the hot key's
                    # whole n_hot x n_hot verification runs in one task
                    lambda: alias_pairs(names, salt_threshold=10**6).count(),
                )
            )
        todo.append(
            ("alias_pairs_salted", lambda: alias_pairs(names, salt_threshold=st).count())
        )
    results = []
    for name, fn in todo:
        results.append(measure(spark, name, fn))
        release_persisted_blocks()

    for fam in ("token_jaccard", "simhash_bands", "alias_pairs"):
        counts_ = {r["rows"] for r in results if r["query"].startswith(fam)}
        assert len(counts_) <= 1, f"{fam}: plans disagree on output rows {counts_}"
    out = {
        "metric": "skew_salting_task_bound",
        "hot_block_rows": args.hot,
        "tail_rows": args.tail,
        "swaps": args.swaps,
        "cpus": args.cpus,
        "results": results,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
