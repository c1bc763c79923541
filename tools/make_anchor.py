#!/usr/bin/env python3
"""Build the round's solo steady-state anchor (r11 verdict ask #1):
pick the top-N slowest ORACLE-CHECKED queries from the newest
committed full-sweep snapshot (older snapshots also carry retired
bench-only labels, which the ledger filter drops) and run
`graft.Bench` on just them at sf0.1 (SPARK_GRAFT_SF_DIR), writing the
full snapshot to BENCH_anchor_r<N>.json (SPARK_GRAFT_BENCH_FULL).
Two anchors from different rounds feed preflight stage 5's
engine-drift gate via bench_compare --gate. Not shipped engine code —
a development harness.

Usage: python3 tools/make_anchor.py <round> [topN] [sfDir]
"""
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    rnd = int(sys.argv[1])
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 15
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    snaps = sorted(glob.glob(os.path.join(REPO, "BENCH_local_r*.json")),
                   key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    if not snaps:
        print("no BENCH_local_r*.json snapshot to pick queries from")
        return 1
    data = json.load(open(snaps[-1]))
    ledger = {l.split()[0] for l in
              open(os.path.join(REPO, "EXCHANGES.txt")) if l.strip()}
    qs = sorted(((q, t) for q, t in data.get("queries", {}).items()
                 if t >= 0 and q in ledger),
                key=lambda kv: -kv[1])[:top_n]
    names = sorted(q for q, _ in qs)
    print(f"anchoring top-{len(names)} from "
          f"{os.path.basename(snaps[-1])}: {names}")
    out = os.path.join(REPO, f"BENCH_anchor_r{rnd}.json")
    cmd = ["sbt", "-batch", "runMain graft.Bench " + " ".join(names)]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_BENCH_FULL=out)
    rc = subprocess.run(cmd, cwd=REPO, env=env).returncode
    if rc == 0 and os.path.exists(out):
        print(f"anchor written: {out}")
        return 0
    print(f"anchor FAILED (rc={rc})")
    return 1


if __name__ == "__main__":
    sys.exit(main())
