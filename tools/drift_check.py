#!/usr/bin/env python3
"""Documentation-drift tripwire (the r6/r7 verdict class, plus the
round-8 phantom-bench-snapshot instance): mechanically cross-reference
the committed artifacts so STATUS/COVERAGE claims can't silently
diverge from the code. Not shipped engine code — a development harness
wired into tools/preflight.sh.

Checks:
  1. EXCHANGES.txt is the one committed plan ledger every check below
     reads; its counts are checked live against the sf0.001 and sf0.1
     plans by ExchangeLedgerSpec, and its gwin>0 rows against the
     partition-less-window allowlist declared in graft.Gwin by
     GwinBoundsSpec.
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
  6. No file under src/main/scala except core/Tables.scala calls
     `read.parquet`, so every driver-table read goes through the
     declared schemas in Tables (no footer-inference job, one schema
     source).
  7. Repeated oracle SQL does not grow back (a ratchet): the source
     lines in queries/*.scala covered by a 5-line `|`-margin window
     whose trimmed text (over 150 characters) occurs in 2+ places stay
     at or below MAX_REPEATED_SQL_LINES. A fragment more than one query
     uses belongs in queries.OracleSql.
  8. One session recipe: under src/main, `SparkSession.builder` appears
     only in core/Sessions.scala; under src/test, only in SparkSpec.scala.
     Both apply `Sessions.common` — so the tests run with the mains'
     time zone, `file:` filesystem and executor class loader.
  9. One stage barrier (a ratchet at zero): under src/main, `.localCheckpoint(`
     and `.checkpoint(` appear only in core/Barrier.scala, the one place
     that decides how lineage is cut (local blocks under a local master,
     reliable files otherwise).
 10. One tracer (a ratchet at zero): under src/main and src/test,
     `extends SparkListener`, `new SparkListener` and `addSparkListener`
     appear only in core/Trace.scala, the one place that decides how
     Spark work is attributed to a name and when its counts are complete.
 11. One reachable surface (a declared ratchet): a definition under
     src/main -- a `def`, `val`, `class`, `object` or `trait` that is not
     an `override` or an `implicit` (dispatch and implicit search reach
     those without naming them) -- is unreached when, comments stripped,
     its name appears in no other file under src/main or perfbench/src
     and only once in its own file. Every unreached definition must be
     declared in DECLARED_UNREACHED with its reason (an entry point, a
     SURVEY row or reference job, or the reference a spec checks a live
     kernel against), and every declared name must still be unreached,
     so the map cannot go stale. Main code that only its own spec
     reaches is a second path for a job the engine already does one way.
"""
import glob
import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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

# Check 11's declared keeps: definitions under src/main that no other
# main or perfbench file names, each with the reason it stays. Keys are
# "<file stem>.<name>", or the bare name when the file is named after it.
DECLARED_UNREACHED = {
    # entry points
    "PlanScan": "main: the exchange-ledger scan (tools, ExchangeLedgerSpec)",
    "Verify": "main: the correctness dump check_oracle.py reads",
    "SparkEntry.entry": "the driver contract's entry object",
    "GraftFunctions": "SQL registration of the custom expressions",
    "RangeJoin.GraftSparkExtensions": "named by spark.sql.extensions",
    "Bridge.plannerStrategies": "test seam for the GraftSparkExtensions "
                                "entry point",
    # SURVEY rows and reference files
    "Csv": "S1/S2: CSV scan and typed scan",
    "Csv.readAs": "S2: typed scan into case classes",
    "Models.Event": "S2: the reference's Event case class",
    "Tables.registerAll": "S4: temp-view registration",
    "Sinks.saveTable": "S5/S8: managed-table sink and format choice",
    "Sinks.saveBucketed": "S7: 16-bucket sorted write",
    "Upsert.overwritePartitions": "S14: batch INSERT INTO ... SELECT",
    "Upsert.mergeUpsert": "S15: ON CONFLICT DO UPDATE upsert",
    "Cumulate.appendDate": "user_cumulated_populate.sql's date append",
    "CumulativeDim.increment": "the module-1 cumulative load",
    "Datelist.reanchor": "user_datelist_int.sql BIT(32) datelist",
    "Datelist.trimToRefWidth": "user_datelist_int.sql BIT(32) datelist",
    "StreamingJobs.tumblingHostReferrerAgg": "F4: tumbling agg by host and "
                                             "referrer",
    "StreamingJobs.avgEventsPerSessionByHost": "F8: events per session by "
                                               "host",
    "StreamingJobs.enrichWithHostDim": "Flink-job port: stream-static "
                                       "enrichment (F5/F6)",
    "StreamingJobs.dedupStream": "Flink-job port: watermarked stream dedup",
    "StreamingJobs.impressionClickJoin": "Flink-job port: stream-stream "
                                        "interval join",
    "StreamingJobs.impressionClickJoinOuter": "Flink-job port: left-outer "
                                             "interval join",
    "StreamingJobs.chunkDedupStream": "Flink-job port: streaming chunk dedup",
    "StreamingJobs.IdempotentBatchSink": "S11: JDBC-style foreachBatch sink",
    "StreamingJobs.TransactionalDirSink": "S11: per-epoch atomic directory "
                                          "sink",
    "StreamingJobs.IncrementalAggSink": "S11: the restart-safe epoch sink",
    # references that specs check live kernels against
    "Dedup.minhashSignatureFold": "MinHashSigSpec's reference for MinHashSig",
    "Dedup.simhashFold": "SimHashSigSpec's reference for SimHashSig",
    "Dedup.jaccard": "SortedIntersectCountSpec's reference for "
                     "jaccardSorted",
    "Similarity.dotFold": "VectorDotSpec's reference for VectorDot",
    "TextFunctions.sortedShinglesFold": "SortedShinglesSpec's reference for "
                                        "SortedShinglesExpr",
    "Multimodal.windowEnergiesFold": "WindowEnergiesSpec's reference for "
                                     "WindowEnergiesExpr",
}

# Check 7's ceiling: the repeated-window line count once the shared
# oracle fragments moved into queries.OracleSql (726 before, then 34:
# the spark.sql twins of three oracles, now bound once). Never raise it.
MAX_REPEATED_SQL_LINES = 0
WINDOW, WINDOW_MIN_CHARS = 5, 150


def read(path):
    with open(os.path.join(REPO, path), encoding="utf-8") as f:
        return f.read()


def only_in(home, pattern, tree="src/main"):
    """The .scala files under `tree`, other than `home`, whose text
    matches `pattern` (repo-relative paths, sorted)."""
    hits = []
    for f in sorted(glob.glob(os.path.join(REPO, tree, "**/*.scala"),
                              recursive=True)):
        rel = os.path.relpath(f, REPO)
        if rel != home and re.search(pattern,
                                     open(f, encoding="utf-8").read()):
            hits.append(rel)
    return hits


def strip_comments(src):
    """Scala source without its // and (nested) /* */ comments; string
    literals, which may hold `//` (as in `file://`), are kept."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j += 1
        elif src.startswith("//", i):
            i = src.find("\n", i)
            i = n if i < 0 else i
            continue
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            continue
        else:
            j = i + 1
        out.append(src[i:j])
        i = j
    return "".join(out)


def unreached():
    """Check 11's measure: the definitions under src/main that no other
    file under src/main or perfbench/src names and that their own file
    names only once (comments stripped), keyed as in DECLARED_UNREACHED."""
    files = sorted(glob.glob(os.path.join(REPO, "src/main/**/*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(REPO, "perfbench/src/**/*.scala"),
                             recursive=True))
    code = {f: strip_comments(open(f, encoding="utf-8").read())
            for f in files}
    counts = {f: Counter(re.findall(r"\w+", c)) for f, c in code.items()}
    total = sum(counts.values(), Counter())
    # group 1: an `override` or `implicit` and the modifiers after it
    defn = re.compile(r"(?<![\w.])"
                      r"((?:override|implicit)\s+(?:[\w\[\]]+\s+)*)?"
                      r"(?:def|val|class|object|trait)\s+(\w+)")
    hits = []
    for f in files:
        if not os.path.relpath(f, REPO).startswith("src/main/"):
            continue
        stem = os.path.basename(f)[:-len(".scala")]
        for m in defn.finditer(code[f]):
            name = m.group(2)
            if not m.group(1) and counts[f][name] == total[name] == 1:
                hits.append(name if name == stem else f"{stem}.{name}")
    return hits


def repeated_sql_windows():
    """Check 7's measure: ({text: [(file, first line)]} for every
    5-line margin window over 150 trimmed characters that occurs 2+
    times, the set of (file, line) those windows cover)."""
    occ = {}
    for f in sorted(glob.glob(os.path.join(
            REPO, "src/main/scala/graft/queries/*.scala"))):
        lines = open(f, encoding="utf-8").read().splitlines()
        for i in range(len(lines) - WINDOW + 1):
            win = [l.strip() for l in lines[i:i + WINDOW]]
            if all(l.startswith("|") for l in win):
                key = "\n".join(l[1:].strip() for l in win)
                if len(key) > WINDOW_MIN_CHARS:
                    occ.setdefault(key, []).append(
                        (os.path.basename(f), i + 1))
    repeated = {k: v for k, v in occ.items() if len(v) >= 2}
    covered = {(f, i + j) for v in repeated.values() for f, i in v
               for j in range(WINDOW)}
    return repeated, covered


def main() -> int:
    errs = []

    led = [l.split()[0] for l in read("EXCHANGES.txt").splitlines()
           if l.strip()]

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

    entry = read("src/main/scala/graft/SparkEntry.scala")
    for f in sorted(glob.glob(os.path.join(
            REPO, "src/main/scala/graft/queries/Extended*.scala"))):
        obj = os.path.basename(f)[:-len(".scala")]
        if f"{obj}.all" not in entry:
            errs.append(f"queries/{obj}.scala exists but {obj}.all is not "
                        "registered in SparkEntry")

    # 6. one schema source: parquet reads only through core.Tables
    for rel in only_in("src/main/scala/graft/core/Tables.scala",
                       r"\bread\s*\.\s*parquet\b"):
        errs.append(f"{rel} calls read.parquet — "
                    "read driver tables through core.Tables.load")

    # 7. repeated oracle SQL ratchet
    repeated, covered = repeated_sql_windows()
    if len(covered) > MAX_REPEATED_SQL_LINES:
        worst = sorted(repeated.items(), key=lambda kv: -len(kv[1]))[:5]
        errs.append(
            f"{len(covered)} queries/ lines sit in repeated 5-line oracle "
            f"SQL windows (ceiling {MAX_REPEATED_SQL_LINES}); move the "
            "shared fragment into queries.OracleSql. Worst: " +
            "; ".join(", ".join(f"{f}:{i}" for f, i in v) +
                      f" {k.splitlines()[0]!r}" for k, v in worst))

    # 8. one session recipe, and the tests share its settings
    recipes = {"src/main": "src/main/scala/graft/core/Sessions.scala",
               "src/test": "src/test/scala/graft/SparkSpec.scala"}
    for tree, home in recipes.items():
        for rel in only_in(home, r"SparkSession\.builder", tree):
            errs.append(f"{rel} builds a SparkSession — build it only in "
                        f"{home}")
    applies_common = r"\.config\(\s*(graft\.core\.)?(Sessions\.)?common\s*\)"
    for home in recipes.values():
        if not re.search(applies_common, read(home)):
            errs.append(f"{home} does not apply Sessions.common — the tests "
                        "and the mains would run on different settings")

    # 9. one stage barrier: lineage is cut only in core.Barrier
    for rel in only_in("src/main/scala/graft/core/Barrier.scala",
                       r"\.(localCheckpoint|checkpoint)\("):
        errs.append(f"{rel} cuts lineage itself — call core.Barrier(ds) "
                    "instead")

    # 10. one tracer: the only SparkListener lives in core.Trace
    listener = r"\b(extends|new)\s+([\w.]+\.)?SparkListener\b|\baddSparkListener\b"
    for tree in ("src/main", "src/test"):
        for rel in only_in("src/main/scala/graft/core/Trace.scala", listener,
                           tree):
            errs.append(f"{rel} defines or adds a SparkListener — attribute "
                        "Spark work through core.Trace instead")

    # 11. one reachable surface: every unreached definition is declared
    hits = unreached()
    undeclared = [h for h in hits if h not in DECLARED_UNREACHED]
    if undeclared:
        errs.append(f"{len(undeclared)} src/main definitions that no other "
                    "main or perfbench file names — call them from an entry "
                    "point, delete them with their specs, or declare them "
                    "with a reason in DECLARED_UNREACHED: " +
                    ", ".join(undeclared))
    stale = sorted(set(DECLARED_UNREACHED) - set(hits))
    if stale:
        errs.append(f"{len(stale)} DECLARED_UNREACHED names that are no "
                    "longer unreached (now named elsewhere, or deleted) — "
                    "drop them from the map: " + ", ".join(stale))

    if errs:
        print("DRIFT: FAIL")
        for e in errs:
            print(f"  - {e}")
        return 1
    print(f"DRIFT: OK ({len(led)} queries consistent across ledger, "
          "COVERAGE, STATUS, bench snapshot, SparkEntry; parquet read "
          f"only in Tables; {len(covered)} repeated oracle SQL lines; "
          "one session recipe; one stage barrier; one tracer; "
          f"one reachable surface, {len(DECLARED_UNREACHED)} declared)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
