"""Local mirror of the driver's correctness gate: run every registry query
in Spark AND its DuckDB oracle at sf0.01, compare row count + columns +
exact values (sorted rows, sorted columns). At another scale factor the
rows in SCALE_BOUND are reported by name as scale-bound, not compared.

Usage: python scratch/verify_local.py [--sf DIR] [--only SUBSTR] [--cpus N]

Regenerating __spark_entry__._GATE_PRIORITY (stalest-first) after a new
CORRECTNESS_r{N}.json lands::

    latest = {}
    for r in rounds:  # ascending
        for k, v in json.load(open(f"CORRECTNESS_r{r:02d}.json")).items():
            if v.get("rows_match") and v.get("hash_match"):
                latest[k] = r
    order = [never-driver-checked queries first] + sorted(
        latest, key=lambda k: (latest[k], k))
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd


# Fixed-expected-value oracles captured on the sf0.01 fixture over
# tables whose content depends on the scale factor
# (openeo_odc_driver_spark/fixtures/__init__.py). At any other scale
# they cannot match by construction: the Spark side still runs, and the
# row is reported as "scale-bound", neither a pass nor a failure.
CAPTURE_SF = "sf0.01"
SCALE_BOUND = (
    "ann_recall", "ann_recall_trained", "bpe_learn_merges",
    "ivf_pq_ann_trained", "kmeans_train", "quality_classifier_train",
    "semantic_dedup_trained", "semantic_dedup_trained_k160",
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            # decimals / numpy scalars → float where possible
            try:
                df[c] = df[c].astype("float64")
            except (TypeError, ValueError):
                pass
    cols = list(df.columns)
    return df.sort_values(cols).reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(ddf):
        problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        return problems
    if problems:
        return problems
    # Dtype-KIND check BEFORE normalize: the driver's hash is
    # dtype-sensitive (int 6 vs float 6.0 hash differently). DuckDB
    # sum(BIGINT) → HUGEINT → pandas float64 is the classic trap; oracle
    # SQL must CAST such aggregates back to BIGINT. normalize() would
    # erase exactly this difference, so flag it first.
    for c in sorted(sdf.columns):
        ks, kd = sdf[c].dtype.kind, ddf[c].dtype.kind
        if ks in "iu" and kd in "iu":
            continue
        if str(sdf[c].dtype).startswith("datetime64") and str(
            ddf[c].dtype
        ).startswith("datetime64"):
            continue
        if ks != kd:
            problems.append(
                f"dtype-kind diff col={c}: spark={sdf[c].dtype} duck={ddf[c].dtype}"
            )
    if problems:
        return problems
    s = normalize(sdf)
    d = normalize(ddf)
    # Bitwise check on float columns: the driver hashes raw values, so
    # -0.0 vs +0.0 (invisible to ==) must be flagged here too.
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind == "f" and b.dtype.kind == "f":
            av = a.to_numpy(dtype="float64").view("int64")
            bv = b.to_numpy(dtype="float64").view("int64")
            if not (av == bv).all():
                i = int(np.argmax(av != bv))
                problems.append(
                    f"bitwise diff col={c} row={i}: "
                    f"spark={a.iloc[i]!r} duck={b.iloc[i]!r} "
                    f"(bits {av[i]:#x} vs {bv[i]:#x})")
    if problems:
        return problems
    try:
        pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
    except AssertionError as e:
        msg = str(e).split("\n")
        problems.append("values: " + " | ".join(msg[:3]))
        # find first differing cell for diagnostics
        for c in s.columns:
            a, b = s[c], d[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                neq = ~((a.isna() & b.isna()) | (a == b))
            else:
                neq = ~(((a.isna()) & (b.isna())) | (a.astype(str) == b.astype(str)))
            if neq.any():
                i = int(np.argmax(neq.values))
                problems.append(f"  first diff col={c} row={i}: spark={a.iloc[i]!r} duck={b.iloc[i]!r}")
                break
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--cpus", default=str(len(os.sched_getaffinity(0))))
    args = ap.parse_args()

    # the checkout this script lives in, not a fixed path
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from openeo_odc_driver_spark.session import get_spark
    from openeo_odc_driver_spark.registry import QUERIES, ORACLE

    spark = get_spark("verify-local", cpus=args.cpus)

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    names = [n for n in QUERIES if args.only is None or args.only in n]
    off_scale = os.path.basename(os.path.normpath(args.sf)) != CAPTURE_SF
    ok, fail, weak, bound = [], [], [], []
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, args.sf).toPandas()
        except Exception:
            fail.append(name)
            print(f"FAIL  {name}: SPARK ERROR\n{traceback.format_exc()}"[:2000])
            continue
        if off_scale and name in SCALE_BOUND:
            bound.append(name)
            print(f"bound {name}: rows={len(sdf)} (oracle captured at "
                  f"{CAPTURE_SF}) [{time.time()-t0:.1f}s]")
            continue
        if name not in ORACLE:
            weak.append(name)
            print(f"weak  {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(ORACLE[name]).df()
        except Exception:
            fail.append(name)
            print(f"FAIL  {name}: DUCKDB ERROR\n{traceback.format_exc()}"[:2000])
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            fail.append(name)
            print(f"FAIL  {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            ok.append(name)
            print(f"ok    {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")

    print(f"\n=== {len(ok)} ok, {len(weak)} weak (no oracle), "
          f"{len(bound)} scale-bound, {len(fail)} FAIL of {len(names)} ===")
    if bound:
        print("scale-bound:", ", ".join(bound))
    if fail:
        print("failing:", ", ".join(fail))
    spark.stop()
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
