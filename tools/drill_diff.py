#!/usr/bin/env python3
"""Compare two drill or cluster-smoke artifacts row by row.

Usage: python3 tools/drill_diff.py A.jsonl B.jsonl

Rows are keyed as follows:
  ScaleDrill timing rows   (scale, name, phase)
  ScaleDrill quality rows  (scale, name, marker)  marker = recall_line | cal_line
  ClusterSmoke rows        (name,)
It prints the keys only one side has, and for keys on both sides every
differing rows_in / shuffle_rows / rows / recall_at_10 value (seconds are
never compared). Exit status: 1 when a key is missing or extra, else 0.
"""
import json
import sys

COMPARED = ("rows_in", "shuffle_rows", "rows", "recall_at_10")


def key(row):
    if "result_match" in row:
        return ("smoke", row["name"])
    for marker in ("recall_line", "cal_line"):
        if row.get(marker):
            return ("quality", row["scale"], row["name"], marker)
    return ("timing", row["scale"], row["name"], row["phase"])


def load(path):
    rows = {}
    with open(path) as f:
        for n, line in enumerate(f, 1):
            if not line.strip():
                continue
            row = json.loads(line)
            k = key(row)
            if k in rows:
                sys.exit(f"{path}:{n}: duplicate key {k}")
            rows[k] = row
    return rows


def show(k):
    return " ".join(str(p) for p in k[1:])


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    missing = sorted(set(a) - set(b), key=str)
    extra = sorted(set(b) - set(a), key=str)
    for k in missing:
        print(f"missing  {k[0]:8} {show(k)}")
    for k in extra:
        print(f"extra    {k[0]:8} {show(k)}")
    differing = 0
    for k in sorted(set(a) & set(b), key=str):
        for field in COMPARED:
            va, vb = a[k].get(field), b[k].get(field)
            if va != vb:
                differing += 1
                print(f"differs  {k[0]:8} {show(k)}  {field}: {va} -> {vb}")
    print(f"{len(a)} vs {len(b)} rows: {len(missing)} missing, {len(extra)} extra, "
          f"{differing} differing values")
    return 1 if missing or extra else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
