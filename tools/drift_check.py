#!/usr/bin/env python3
"""Documentation-drift tripwire (the r6/r7 verdict class, plus the
round-8 phantom-bench-snapshot instance): mechanically cross-reference
the committed artifacts so STATUS/COVERAGE claims can't silently
diverge from the code. Not shipped engine code — a development harness
wired into tools/preflight.sh.

Checks:
  1. EXCHANGES.txt is the one committed plan ledger every check below
     reads; the cross-SF identity of its counts is checked live
     against the sf0.001 and sf0.1 plans by ExchangeLedgerSpec.
  2. Every ledger query name appears in COVERAGE.md — a new query
     without documentation is drift in the other direction.
  3. STATUS.md's headline "**N oracle-checked queries**" equals the
     ledger row count.
  4. Every BENCH_local_*.json referenced in STATUS.md exists on disk,
     and the newest one covers every ledger query (the phantom
     snapshot class); 4b. its labels are a subset of the ledger plus
     RETIRED_BENCH_LABELS.
  5. Every queries/Extended*.scala object is registered in
     SparkEntry.scala (an unregistered file is dead surface).
  6. The no-partition-less-window rule, made mechanical: every ledger
     row must carry a gwin= count (PlanScan counts WindowExec /
     WindowGroupLimitExec nodes with an empty partitionSpec — Spark's
     "moving all data to a single partition" path), and any nonzero
     count must sit on the allowlist below with its boundedness
     argument. This is the r8-verdict gap: three corpus-scale global
     windows survived seven rounds of prose-only review.
  8. No file under src/main/scala except core/Tables.scala calls
     `read.parquet`, so every driver-table read goes through the
     declared schemas in Tables (no footer-inference job, one schema
     source).
"""
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Queries ALLOWED a partition-less window, each with the reason its
# window input is bounded by construction. Anything else with gwin>0
# fails preflight: rewrite via PrefixSum.withOrdinals / Percentiles
# range partitioning (see q125/q126/q212's round-9 rewrites).
# Since round 10 every entry here must ALSO carry an EXECUTABLE bound
# in GwinBoundsSpec.scala (which runs the exact subplan feeding each
# partition-less window and asserts its row count) — check 7 below
# fails preflight if an entry's spec bound disappears.
GWIN_ALLOWLIST = {
    "q107_null_ordering": "customer filtered to c_custkey <= 300 rows",
    "q112_vocab_encode": "window ranks the top-100 AFTER .limit(100)",
    "q194_temperature_mix": "apportionment over one row per language",
    "q209_seasonality": "24 clock-hour rollup rows",
    "q214_changepoint": "per-day rollup, calendar-bounded",
    "q23_frames": "per-day o_orderdate rollup: TPC-H calendar = 2406 "
                  "distinct days at any corpus size",
    "q275_doremi_mix": "largest-remainder over the 20-row strata table",
    "q282_interleave_schedule":
        "apportionment/schedule windows over one row per source",
}


# Bench labels with no oracle row that committed snapshots up to round
# 13 carry: timing splits of q240 and q307, since deleted. Bench now
# times exactly the oracle surface, so this set is frozen — check 4b
# accepts these names in old snapshots and nothing else beyond the
# ledger.
RETIRED_BENCH_LABELS = frozenset({
    "q240a_lm_train", "q240b_lm_score",
    "q307a_exact", "q307b_substr", "q307c_minhash",
    "q307d_semdedup", "q307e_decontam", "q307f_pack",
})


def read(path):
    with open(os.path.join(REPO, path), encoding="utf-8") as f:
        return f.read()


def main() -> int:
    errs = []

    rows = [l for l in read("EXCHANGES.txt").splitlines() if l.strip()]
    led = [l.split()[0] for l in rows]

    for line in rows:
        name = line.split()[0]
        m = re.search(r"\bgwin=(\d+)\b", line)
        if not m:
            errs.append(f"EXCHANGES.txt: {name} has no gwin= count "
                        "(stale ledger format — regenerate)")
        elif int(m.group(1)) > 0 and name not in GWIN_ALLOWLIST:
            errs.append(
                f"EXCHANGES.txt: {name} plans {m.group(1)} partition-less "
                "window(s) and is not on the bounded-input allowlist "
                "— rewrite via PrefixSum.withOrdinals or annotate "
                "its boundedness in GWIN_ALLOWLIST")

    coverage = read("COVERAGE.md")
    undocumented = [q for q in led if q not in coverage]
    if undocumented:
        errs.append(f"{len(undocumented)} ledger queries missing from "
                    f"COVERAGE.md: {', '.join(sorted(undocumented)[:10])}")

    status = read("STATUS.md")
    m = re.search(r"\*\*(\d+) oracle-checked queries\*\*", status)
    if not m:
        errs.append("STATUS.md: no '**N oracle-checked queries**' headline")
    elif int(m.group(1)) != len(led):
        errs.append(f"STATUS.md claims {m.group(1)} oracle-checked queries; "
                    f"ledger has {len(led)}")

    for bench in sorted(set(re.findall(r"BENCH_local_r\d+\.json", status))):
        if not os.path.exists(os.path.join(REPO, bench)):
            errs.append(f"STATUS.md references {bench}, which does not exist "
                        "(the phantom-snapshot class)")
    # numeric round sort: lexicographic would rank r8 above r10 once
    # rounds hit double digits, silently re-validating a stale snapshot
    snaps = sorted(glob.glob(os.path.join(REPO, "BENCH_local_r*.json")),
                   key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    if snaps:
        newest = snaps[-1]
        data = json.load(open(newest))
        missing = [q for q in led if q not in data.get("queries", {})]
        if missing:
            errs.append(f"{os.path.basename(newest)} missing medians for "
                        f"{len(missing)} ledger queries: "
                        f"{', '.join(sorted(missing)[:10])}")
        # 4b. snapshot labels ⊆ ledger ∪ retired: anything the bench
        # timed beyond the oracle surface must be a retired label
        unknown = sorted(set(data.get("queries", {})) - set(led)
                         - RETIRED_BENCH_LABELS)
        if unknown:
            errs.append(f"{os.path.basename(newest)} times "
                        f"{len(unknown)} labels with no oracle row that "
                        f"are not RETIRED_BENCH_LABELS: {unknown[:10]}")

    # determinism-sweep ledger: set-identical to the query surface,
    # coverage never stale (every query swept within ~one rotation;
    # sweep-0 entries are new queries awaiting their first run, capped
    # so "never ran the spec" can't hide behind "new")
    dl_path = os.path.join(REPO, "tools/determinism_ledger.txt")
    if not os.path.exists(dl_path):
        errs.append("tools/determinism_ledger.txt missing — "
                    "DeterminismSpec writes it; run sbt test")
    else:
        dl = {}
        for line in read("tools/determinism_ledger.txt").splitlines():
            if line.strip():
                q, s = line.split()
                dl[q] = int(s)
        if set(dl) != set(led):
            extra = sorted(set(dl) - set(led))[:5]
            miss = sorted(set(led) - set(dl))[:5]
            errs.append("determinism ledger != query surface "
                        f"(extra: {extra}, missing: {miss})")
        swept = [s for s in dl.values() if s > 0]
        if swept:
            rotation = -(-len(dl) // 20) + 2  # ceil(N/20) + slack
            stale = [q for q, s in dl.items()
                     if 0 < s < max(swept) - rotation]
            if stale:
                errs.append(f"{len(stale)} queries not width-swept "
                            f"within one rotation: {sorted(stale)[:10]}")
            # sweep 0 = no RECORDED sweep yet (ledger introduced round
            # 9). Least-recent selection touches all N queries within
            # ceil(N/20) sweeps, so once that many have run, remaining
            # zeros mean the spec stopped running — fail loudly.
            zeros = [q for q, s in dl.items() if s == 0]
            if max(swept) > rotation and len(zeros) > 25:
                errs.append(f"{len(zeros)} queries have NEVER been "
                            "width-swept (sweep 0) — run DeterminismSpec")

    # 7. GWIN allowlist ⇔ executable bounds: every allowlisted query
    # must carry a numeric bound in GwinBoundsSpec (which executes the
    # window-feeding subplan and asserts the count), and the spec must
    # not hold bounds for queries no longer allowlisted. This turns
    # the prose annotations above into enforced contracts — deleting a
    # spec row or renaming a query fails preflight, not just review.
    gwin_spec_path = "src/test/scala/graft/GwinBoundsSpec.scala"
    if not os.path.exists(os.path.join(REPO, gwin_spec_path)):
        errs.append(f"{gwin_spec_path} missing — the GWIN allowlist "
                    "has no executable bounds")
    else:
        spec_bounds = dict(re.findall(
            r'"(q\w+)" -> \(\((\d+)L', read(gwin_spec_path)))
        if set(spec_bounds) != set(GWIN_ALLOWLIST):
            errs.append(
                "GWIN allowlist vs GwinBoundsSpec bounds diverge "
                f"(allowlist-only: {sorted(set(GWIN_ALLOWLIST) - set(spec_bounds))}, "
                f"spec-only: {sorted(set(spec_bounds) - set(GWIN_ALLOWLIST))})")

    # 7b. EAGER gwin allowlist ⇔ executable bounds: queries whose
    # bounded global windows run during query construction (inside a
    # localCheckpoint — invisible to the final-plan ledger) are
    # declared in Gwin.EagerGwinAllowed (the ONE gwin source Bench's
    # mute and GwinWarningSweepSpec both read — r11 verdict ask #7).
    # Each declared name must carry an eager bound test in
    # GwinBoundsSpec, or the mute is prose-only (the round-9 gap all
    # over again).
    gwin_src = read("src/main/scala/graft/Gwin.scala")
    m = re.search(r"EagerGwinAllowed:\s*Set\[String\]\s*=\s*Set\(([^)]*)\)",
                  gwin_src)
    eager = set(re.findall(r'"(q\w+)"', m.group(1))) if m else set()
    if not m:
        errs.append("Gwin.scala: EagerGwinAllowed set not found — "
                    "the eager-window mute declaration moved or died")
    gwin_spec = read(gwin_spec_path) if os.path.exists(
        os.path.join(REPO, gwin_spec_path)) else ""
    for q in sorted(eager):
        if f"{q}'s EAGER" not in gwin_spec:
            errs.append(f"Bench.EagerGwinAllowed declares {q} but "
                        "GwinBoundsSpec has no eager bound test titled "
                        f"\"{q}'s EAGER ...\" — add the executable bound")

    entry = read("src/main/scala/graft/SparkEntry.scala")
    for f in sorted(glob.glob(os.path.join(
            REPO, "src/main/scala/graft/queries/Extended*.scala"))):
        obj = os.path.basename(f)[:-len(".scala")]
        if f"{obj}.all" not in entry:
            errs.append(f"queries/{obj}.scala exists but {obj}.all is not "
                        "registered in SparkEntry")

    # 8. one schema source: parquet reads only through core.Tables
    tables_src = os.path.join(REPO, "src/main/scala/graft/core/Tables.scala")
    for f in sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"),
                              recursive=True)):
        if f != tables_src and re.search(r"\bread\s*\.\s*parquet\b",
                                         open(f, encoding="utf-8").read()):
            errs.append(f"{os.path.relpath(f, REPO)} calls read.parquet — "
                        "read driver tables through core.Tables.load")

    if errs:
        print("DRIFT: FAIL")
        for e in errs:
            print(f"  - {e}")
        return 1
    print(f"DRIFT: OK ({len(led)} queries consistent across ledger, "
          "COVERAGE, STATUS, bench snapshot, SparkEntry)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
