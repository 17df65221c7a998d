#!/usr/bin/env python3
"""Scaling-exponent table over ONE decade between two bench JSONs.

Usage: tools/scaling2.py small.json big.json label_small label_big [decade]

Label- and ratio-generic: `decade` is the data growth factor between the
two files (default 10). Emits a markdown table over ALL queries present
in the big file, sorted by big-file time (pipe through `head` for the
slowest N), with exponent = log(ratio)/log(decade). Rows whose small-file time sits under
0.5 s are marked 'floor' (Spark per-job scheduling floor dominates).
Telemetry columns (GC share of wall, disk spill) ride along when present
in the big file, so a super-linear row carries its mechanism.
"""
import json
import math
import sys


def main() -> None:
    small_doc = json.load(open(sys.argv[1]))
    big_doc = json.load(open(sys.argv[2]))
    ls, lb = sys.argv[3], sys.argv[4]
    decade = float(sys.argv[5]) if len(sys.argv) > 5 else 10.0
    small = small_doc["queries"]
    big = big_doc["queries"]
    tel = big_doc.get("telemetry", {})
    reps = big_doc.get("reps", 1)
    rows = sorted(big.items(), key=lambda kv: -kv[1])
    print(f"| query | {ls} s | {lb} s | ratio | exponent | gc%({lb}) | spill({lb}) |")
    print("|---|---|---|---|---|---|---|")
    for name, t_big in rows:
        t_small = small.get(name)
        t = tel.get(name, {})
        gc = t.get("gc_ms")
        gc_pct = f"{gc / (t_big * reps * 1000) * 100:.0f}%" if gc is not None and t_big > 0 else "—"
        spill = t.get("spill_disk_bytes", 0) + t.get("spill_mem_bytes", 0)
        spill_s = f"{spill // 1048576}MB" if spill else "0"
        if t_small is None or t_small <= 0:
            print(f"| {name} | — | {t_big:.2f} | — | — | {gc_pct} | {spill_s} |")
            continue
        ratio = t_big / t_small
        expo = math.log(ratio) / math.log(decade) if ratio > 0 else float("nan")
        note = f"{expo:.2f}" if t_small >= 0.5 else f"{expo:.2f} (floor)"
        print(f"| {name} | {t_small:.2f} | {t_big:.2f} | {ratio:.1f}x | {note} | {gc_pct} | {spill_s} |")


if __name__ == "__main__":
    main()
