"""Mirror of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row-count + column names + order-insensitive value multiset.

Usage: python tools/check_entry.py [sf_dir] [query ...]

Only a run over every query records its result in ``.gate_last.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def norm_cell(v):
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # 12 significant digits: absorbs last-ulp engine noise while still
        # resolving the 6-decimal rounded spec at any realistic magnitude
        return f"{v:.12g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        # recurse so float elements inside array columns get the same
        # normalization instead of raw repr
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = "\x01".join(norm_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


# DuckDB output types the external driver's pandas/Arrow conversion
# renders differently from the SQL value (HUGEINT/DECIMAL -> float64,
# so 28 prints as "28.0" while Spark's int64 prints "28"). fetchall()
# hides this (HUGEINT -> Python int), which is how the r03
# kg_entity_cards hash-red stayed invisible to this mirror — so flag
# the TYPE at the source instead of trusting value comparison.
_HAZARD_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def oracle_type_hazards(rel):
    return [
        f"{c}:{t}"
        for c, t in zip(rel.columns, [str(t) for t in rel.types])
        if t in _HAZARD_TYPES[:2] or t.startswith("DECIMAL")
    ]


def _kind(v):
    if isinstance(v, bool):
        return "b"
    if isinstance(v, int):
        return "i"
    if isinstance(v, float):
        return "f"
    return "o"


def kind_mismatches(cols, s_rows, d_rows, sample=200):
    """Columns where one engine yields ints and the other floats —
    value-equal today but driver-canonicalizer-divergent."""
    out = []
    for i, c in enumerate(cols):
        sk = {_kind(r[i]) for r in s_rows[:sample] if r[i] is not None}
        dk = {_kind(r[i]) for r in d_rows[:sample] if r[i] is not None}
        if sk and dk and ("f" in sk) != ("f" in dk):
            out.append(f"{c}:spark={''.join(sorted(sk))},duck={''.join(sorted(dk))}")
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # mirror entry_queries._fx: unknown sf names fall back to the sf0.01
    # fixture on BOTH sides of the comparison
    from ner_spark.fixtures.generator import SF_TURNS

    sf = os.path.basename(os.path.normpath(sf_dir))
    if sf not in SF_TURNS:
        sf = "sf0.01"

    import duckdb

    import __spark_entry__ as ent
    from ner_spark.session import get_spark

    spark = get_spark(app_name="check_entry")
    qs, oracles = ent.queries(), ent.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
        sys.exit(2)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        status = "ok"
        detail = ""
        try:
            df = fn(spark, sf_dir)
            s_cols = df.columns
            s_rows = df.collect()
            sql = oracles.get(name)
            if sql is None:
                status = "rows_only"
                detail = f"{len(s_rows)} rows"
            else:
                # mirror test runs at any sf: retarget golden paths
                sql = sql.replace("/.fixtures/sf0.01/", f"/.fixtures/{sf}/")
                rel = con.sql(sql)
                d_cols = list(rel.columns)
                hazards = oracle_type_hazards(rel)
                d_rows = rel.fetchall()
                if sorted(s_cols) != sorted(d_cols):
                    status = "SCHEMA_MISMATCH"
                    detail = f"spark={s_cols} duck={d_cols}"
                elif len(s_rows) != len(d_rows):
                    status = "COUNT_MISMATCH"
                    detail = f"spark={len(s_rows)} duck={len(d_rows)}"
                else:
                    srl = [[r[c] for c in s_cols] for r in s_rows]
                    drl = [
                        [r[d_cols.index(c)] for c in s_cols] for r in d_rows
                    ]
                    ms = to_multiset(s_cols, srl)
                    md = to_multiset(s_cols, drl)
                    kinds = kind_mismatches(s_cols, srl, drl)
                    if ms != md:
                        status = "VALUE_MISMATCH"
                        diff = [k for k in ms if ms[k] != md.get(k, 0)][:3]
                        diff2 = [k for k in md if md[k] != ms.get(k, 0)][:3]
                        detail = f"spark_only={diff} duck_only={diff2} rows={len(s_rows)}"
                    elif hazards:
                        status = "TYPE_HAZARD"
                        detail = f"oracle cols {hazards} widen to float64 under pandas"
                    elif kinds:
                        status = "TYPE_HAZARD"
                        detail = f"int/float kind mismatch: {kinds}"
                    else:
                        detail = f"{len(s_rows)} rows"
                        if os.environ.get("CHECK_REPEAT"):
                            df2 = fn(spark, sf_dir)
                            ms2 = to_multiset(
                                s_cols,
                                [[r[c] for c in s_cols] for r in df2.collect()],
                            )
                            if ms2 != ms:
                                status = "REPEAT_MISMATCH"
                                detail = "spark result differs between two runs"
        except Exception as e:  # noqa: BLE001
            status = "ERROR"
            detail = f"{type(e).__name__}: {e}"[:300]
        dt = time.time() - t0
        results[name] = (status, detail, round(dt, 1))
        print(f"{name:24s} {status:16s} {dt:6.1f}s  {detail[:160]}", flush=True)

    bad = {k: v for k, v in results.items() if v[0] not in ("ok", "rows_only")}
    print(json.dumps({"total": len(results), "bad": len(bad)}))
    # persist a full run's result so bench.py can embed the latest gate
    # state in its compact summary line (labeled with this run's
    # timestamp + sf — a cross-reference, not a claim the bench
    # re-verified correctness); a subset run is no gate state
    if not only:
        try:
            with open(os.path.join(REPO, ".gate_last.json"), "w") as f:
                json.dump(
                    {
                        "total": len(results),
                        "bad": len(bad),
                        "bad_names": sorted(bad)[:10],
                        "sf_dir": sf_dir,
                        "ts": int(time.time()),
                    },
                    f,
                )
        except OSError:
            pass
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
