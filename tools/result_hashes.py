#!/usr/bin/env python3
"""Print an md5 per gate of a Verify output directory, over the result
normalized as tools/oracle_check.py compares it (columns sorted by name,
rows sorted by their string form, values as strings).

Usage: python3 tools/result_hashes.py OUT [--against PARENT_OUT]

With --against, also hashes PARENT_OUT and lists every gate whose hash
differs or that only one side has; exits 1 if there is any.
"""
import glob
import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_check import norm  # noqa: E402


def hashes(outdir):
    con = duckdb.connect()
    got = {}
    for rdir in sorted(glob.glob(f"{outdir}/*/")):
        name = os.path.basename(rdir.rstrip("/"))
        if os.path.exists(f"{rdir}/_ERROR"):
            got[name] = "ERROR"
        elif glob.glob(f"{rdir}/*.parquet"):
            df = norm(con.execute(f"SELECT * FROM '{rdir}/*.parquet'").df())
            csv = df.astype(str).to_csv(index=False)
            got[name] = hashlib.md5(csv.encode("utf-8")).hexdigest()
    return got


def main():
    args = sys.argv[1:]
    if len(args) not in (1, 3) or (len(args) == 3 and args[1] != "--against"):
        sys.exit(__doc__)
    mine = hashes(args[0])
    for name, h in sorted(mine.items()):
        print(f"{h} {name}")
    if len(args) == 1:
        return
    parent = hashes(args[2])
    differ = sorted(n for n in set(mine) | set(parent)
                    if mine.get(n) != parent.get(n))
    for n in differ:
        print(f"DIFF {n}: {parent.get(n, 'absent')} -> {mine.get(n, 'absent')}")
    print(f"== {len(mine)} gates, {len(differ)} differ ==")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
