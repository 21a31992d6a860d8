#!/usr/bin/env python3
"""Row-multiset equivalence of two oracle dumps.

Lists the oracle_sql.json entries whose SQL text differs between two
dumps (graft.Verify writes one per run), runs both sides of each in
DuckDB at every given scale-factor directory, compares the row
multisets with EXCEPT ALL in both directions, and prints a gate x SF
table. Exits 1 when any changed entry differs at any SF, or when the
dumps name different gates.

Usage: scripts/oracle_equiv.py <base oracle_sql.json> <change oracle_sql.json> <sfdir>...
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_correctness import compare, connect  # noqa: E402


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    base = json.load(open(sys.argv[1]))
    change = json.load(open(sys.argv[2]))
    sfs = sys.argv[3:]
    only = sorted(set(base) ^ set(change))
    for name in only:
        side = "base" if name in base else "change"
        print(f"only in {side}: {name}")
    changed = sorted(n for n in set(base) & set(change) if base[n] != change[n])
    print(f"{len(changed)} of {len(set(base) & set(change))} shared entries "
          "differ in text")
    ok = not only
    rows = []
    for sf in sfs:
        con = connect(sf)
        for name in changed:
            t0 = time.time()
            try:
                status, detail = compare(con, base[name], change[name],
                                         names=("base", "change"))
            except Exception as e:  # noqa: BLE001
                status, detail = "ERROR", str(e).split("\n")[0][:300]
            ok = ok and status == "OK"
            rows.append((name, os.path.basename(sf.rstrip("/")), status,
                         detail, time.time() - t0))
            print(f"  {name} @ {rows[-1][1]}: {status} {detail} "
                  f"({rows[-1][4]:.1f} s)", flush=True)
    labels = [os.path.basename(sf.rstrip("/")) for sf in sfs]
    cell = {(n, sf): f"{s} {d.splitlines()[0]}" if s != "OK"
            else f"identical, {d}" for n, sf, s, d, _ in rows}
    print()
    print("| gate | " + " | ".join(labels) + " |")
    print("|---|" + "---|" * len(labels))
    for name in changed:
        print(f"| {name} | " + " | ".join(cell[(name, sf)] for sf in labels)
              + " |")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
