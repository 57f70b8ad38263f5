#!/usr/bin/env python
"""Result-hash sweep: md5 of every registry query's normalized output.

The optimization-round safety harness: run BEFORE and AFTER a change
and diff the JSON — any query whose hash moves has had its RESULTS
changed, which is a regression regardless of speed.

Normalization mirrors the driver: cast every cell to string, sort
columns by name, sort rows lexicographically, md5 the joined text.

Usage:
    python scripts/result_hashes.py --out /tmp/hashes_before.json \
        [--sf-dir /root/testdata/sf0.01] [--queries a,b,c]
    python scripts/result_hashes.py --compare A.json B.json

``--compare`` exits non-zero on any hash that moved and on any query
that raised (recorded as ``"ERROR: ..."``) on either side.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys


def frame_hash(df) -> tuple[str, int]:
    cols = sorted(df.columns)
    rows = [tuple("" if v is None else str(v) for v in (r[c] for c in cols))
            for r in df.collect()]
    rows.sort()
    h = hashlib.md5()
    h.update(("\x01".join(cols)).encode())
    for r in rows:
        h.update(("\x02".join(r)).encode())
    return h.hexdigest(), len(rows)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--queries", default="")
    ap.add_argument("--compare", nargs=2, default=None)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS")
                                or os.cpu_count()))
    args = ap.parse_args()

    if args.compare:
        a = json.load(open(args.compare[0]))
        b = json.load(open(args.compare[1]))
        bad = []
        for k in sorted(set(a) | set(b)):
            va, vb = a.get(k), b.get(k)
            if va != vb:
                bad.append(("MISMATCH", k, va, vb))
            elif str(va[0]).startswith("ERROR"):
                # a query that raises on both sides is broken, not equal
                bad.append(("ERROR", k, va, vb))
        if bad:
            for tag, k, va, vb in bad:
                print(f"{tag} {k}: {va} -> {vb}")
            sys.exit(1)
        print(f"OK: {len(a)} hashes identical")
        return

    import _repo  # noqa: F401  first: the package on every import path
    from n8n_tools_api_spark.plans import all_queries
    from n8n_tools_api_spark.session import get_spark

    spark = get_spark(app_name="result-hashes",
                      master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    qs = all_queries()
    names = [q.strip() for q in args.queries.split(",") if q.strip()] or sorted(qs)
    out: dict[str, list] = {}
    for name in names:
        try:
            h, n = frame_hash(qs[name](spark, args.sf_dir))
            out[name] = [h, n]
        except Exception as e:  # record, don't abort the sweep
            out[name] = ["ERROR: " + str(e).split("\n")[0][:200], -1]
        print(f"  {name}: {out[name]}", file=sys.stderr, flush=True)
    text = json.dumps(out, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        print(text)
    spark.stop()


if __name__ == "__main__":
    main()
