#!/usr/bin/env python3
"""Mechanical plan-regression gate over two bench records.

Usage: python3 tools/plan_gate.py BASELINE.json CURRENT.json \
           [row_tol] [row_slack] [byte_tol] [byte_slack]

Compares the per-query "shuffle_rows" AND "shuffle_bytes" maps (written
by graft.Bench via ShuffleTally). Shuffle rows are deterministic for a
deterministic query at a fixed scale factor, so a new exchange, a lost
pushdown, or a broadcast join that silently became a shuffle join shows
up as a row jump — this diff fails (exit 1) instead of waiting for a
human to read plans. The BYTE gate catches what the row gate cannot: a
projection that widened (an embedding array riding through an exchange
it used to be dropped before) moves bytes at flat rows — the metric
that justified the r11 ADC-fold trade is now gated mechanically. Byte
tolerances are looser (2.0x + 4 MB): bytes include compression framing
and vary with partition count where rows do not. Compare records from
the SAME scale factor. Queries present on only one side are skipped
(new queries have no baseline; retired ones have nothing to defend).
Records carry the min across timed passes: partial-aggregation fallback
under memory pressure inflates recordsWritten run-to-run (same plan
measured at 45k and 301k rows), and fallback only inflates, so the
per-pass min is the plan's intrinsic count. The sbt spec "bench plan
gate" runs this script on records of a measured regression and proves
it trips (exit 1) on the regression and stays quiet (exit 0) on an
identical record and on a query with no baseline.
"""
import json
import sys


def gate(base, cur, tol, slack, label):
    bad = []
    compared = 0
    for q in sorted(cur):
        if q not in base or base[q] < 0 or cur[q] < 0:
            continue
        compared += 1
        if cur[q] > base[q] * tol + slack:
            bad.append(f"{q}: {label} {cur[q]} > {tol}x baseline "
                       f"{base[q]} (+{slack})")
    return bad, compared


def main(base_path, cur_path, row_tol=1.25, row_slack=10000,
         byte_tol=2.0, byte_slack=4 * 1024 * 1024):
    base = json.load(open(base_path))
    cur = json.load(open(cur_path))
    if not base.get("shuffle_rows") or not cur.get("shuffle_rows"):
        print("plan gate: one record carries no shuffle_rows map "
              "(pre-gate bench?) — nothing to compare")
        return 0
    bad, n_rows = gate(base["shuffle_rows"], cur["shuffle_rows"],
                       row_tol, row_slack, "shuffle rows")
    n_bytes = 0
    if base.get("shuffle_bytes") and cur.get("shuffle_bytes"):
        bad_b, n_bytes = gate(base["shuffle_bytes"], cur["shuffle_bytes"],
                              byte_tol, byte_slack, "shuffle bytes")
        bad += bad_b
    for m in bad:
        print("REGRESSION", m)
    if not bad:
        print(f"plan gate clean: {n_rows} queries compared on rows, "
              f"{n_bytes} on bytes")
    return 1 if bad else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    extra = []
    for i, cast in ((2, float), (3, int), (4, float), (5, int)):
        if len(args) > i:
            extra.append(cast(args[i]))
    sys.exit(main(args[0], args[1], *extra))
