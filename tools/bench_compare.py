#!/usr/bin/env python3
"""Bench regression tripwire: compare two bench JSON lines per query.

Usage: python3 tools/bench_compare.py <old.json> <new.json> [threshold]

Lists every query whose median moved by more than <threshold>x (default
1.5) in either direction, joined with its EXCHANGES.txt ledger row.
Plan drift vs host drift separation: EXCHANGES.txt is spec-pinned
(ExchangeLedgerSpec fails `sbt test` on any count change), so when the
suite is green every mover listed here runs the SAME plan as before --
i.e. the movement is host noise, not a plan regression. A mover plus a
red ExchangeLedgerSpec is the real thing.
Not shipped engine code -- a development harness only.
"""
import json
import sys
import os


def _compact_line(doc):
    """The one ≤1900-byte JSON line graft.Bench prints (round 10+),
    recovered from a driver artifact's parsed field or its tail."""
    if isinstance(doc.get("parsed"), dict) and doc["parsed"]:
        return doc["parsed"]
    import re
    for raw in reversed(doc.get("tail", "").splitlines()):
        raw = raw.strip()
        if raw.startswith('{"metric"'):
            try:
                return json.loads(raw)
            except ValueError:
                return None
    return None


def _bench_universe():
    """The bench label universe this checkout knows: EXCHANGES.txt
    query names (what Bench times now) plus drift_check's
    RETIRED_BENCH_LABELS (what r12/r13 artifacts also timed). Used as
    the plausibility gate before any cs-array decode (r11 ADVICE: a
    same-count label rename between rounds must refuse loudly, never
    misattribute times to the wrong names)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = set()
    path = os.path.join(repo, "EXCHANGES.txt")
    if os.path.exists(path):
        for line in open(path):
            if line.strip():
                names.add(line.split()[0])
    sys.path.insert(0, os.path.join(repo, "tools"))
    from drift_check import RETIRED_BENCH_LABELS
    return names | RETIRED_BENCH_LABELS if names else set()


def _from_compact(line):
    """Resolve a compact bench line to {query: seconds}. The "full"
    pointer (BENCH_FULL.json by default) is overwritten by EVERY bench
    run, so an old driver artifact can silently resolve to a newer
    round's numbers (every ratio 1.0, a real regression reads as 'no
    movers'). Trust the full payload only when it AGREES with the
    compact line — per-query centisecond match against the cs array,
    or (for the >1900-byte 'slow' fallback format, which has no cs)
    against the line's own slow-20 entries and value total (r11
    ADVICE: the old code trusted the full file unverified on that
    path). Decoding the cs array first checks the label set against
    the label universe this checkout knows; anything else gives up to a loud
    empty result."""
    full = line.get("full", "")
    cs = line.get("cs") or []
    nq = line.get("nq")
    fq, fval = {}, None
    if full and os.path.exists(full):
        try:
            with open(full) as f:
                doc = json.load(f)
            fq = dict(doc.get("queries", {}))
            fval = doc.get("value")
        except ValueError:
            fq = {}
    if fq and len(fq) == nq:
        names = sorted(fq)
        if len(cs) == nq:
            agree = sum(1 for n, c in zip(names, cs)
                        if fq[n] < 0 or abs(round(fq[n] * 100) - c) <= 1)
            if agree >= 0.9 * nq:
                return {k: v for k, v in fq.items() if v >= 0}
            # stale/overwritten full file: same surface, different
            # numbers — the compact line is authoritative, IF its
            # label set is one this checkout recognizes
            universe = _bench_universe()
            drifted = sorted(set(names) - universe) if universe else []
            if drifted:
                print(f"NOTE: {full} disagrees with the compact line "
                      f"AND its label set is not in the committed "
                      f"ledger universe ({drifted[:5]}...) — a rename "
                      "would misattribute the cs decode; ignoring "
                      "this artifact's queries", file=sys.stderr)
                return {}
            print(f"NOTE: {full} disagrees with the compact line "
                  f"({nq - agree}/{nq} labels off) — decoding the "
                  "embedded cs array instead", file=sys.stderr)
            return {n: c / 100.0 for n, c in zip(names, cs) if c >= 0}
        # 'slow' fallback line (no cs): the full file must corroborate
        # the line's own numbers — value total and slow-20 entries —
        # before we trust it (it is overwritten by every bench run)
        slow = line.get("slow") or {}
        val = line.get("value")
        val_ok = (fval is not None and val is not None
                  and abs(fval - val) <= 0.0051)
        slow_ok = all(n in fq and abs(fq[n] - v) <= 0.0051
                      for n, v in slow.items()) if slow else True
        if val_ok and slow_ok:
            return {k: v for k, v in fq.items() if v >= 0}
        print(f"NOTE: {full} does not corroborate the compact line's "
              f"slow/value fields (val_ok={val_ok}, slow_ok={slow_ok})"
              " — stale full file; ignoring this artifact's queries",
              file=sys.stderr)
        return {}
    # no full file for this surface (absent, or rewritten by a run
    # over another surface): last resort, decode cs against the
    # universe when the counts line up exactly. That universe is the
    # r12/r13 surface while the ledger is unchanged since then; the
    # current ledger alone is never used, its 311 names collide in
    # count with r11's different 311.
    universe = _bench_universe()
    if len(cs) == nq and universe and len(universe) == nq:
        print(f"NOTE: no full payload for this {nq}-label surface — "
              "decoding cs against the ledger + retired-label universe "
              "(same label count)", file=sys.stderr)
        return {n: c / 100.0
                for n, c in zip(sorted(universe), cs) if c >= 0}
    if fq:
        print(f"NOTE: {full} has {len(fq)} labels but the compact "
              f"line says nq={nq} — surface mismatch, cannot decode "
              "the cs array; ignoring this artifact's queries",
              file=sys.stderr)
    return {}


def load(path):
    with open(path) as f:
        doc = json.load(f)
    if "queries" in doc:
        return {k: v for k, v in doc["queries"].items() if v >= 0}
    # driver-format BENCH_rN.json. Round 10+: parsed/tail hold ONE
    # compact line; resolve it (validating the "full" pointer, which
    # is overwritten by every bench run). Pre-r10 tails held a
    # (usually front-truncated) giant line; regex-harvest those.
    line = _compact_line(doc)
    if line is not None:
        return _from_compact(line)
    import re
    pairs = re.findall(r'"(q[0-9][^"]*)":(-?[0-9.]+)', doc.get("tail", ""))
    return {k: float(v) for k, v in pairs if float(v) >= 0}


def ledger(path):
    out = {}
    if os.path.exists(path):
        for line in open(path):
            parts = line.strip().split(" ", 1)
            if len(parts) == 2:
                out[parts[0]] = parts[1]
    return out


def calib(path):
    """The snapshot's host-speed calibration pair (round 9+), or {}.
    Driver-format artifacts carry it inside parsed/tail."""
    with open(path) as f:
        try:
            doc = json.load(f)
        except Exception:
            return {}
    if doc.get("calib"):
        return doc["calib"]
    if isinstance(doc.get("parsed"), dict) and doc["parsed"].get("calib"):
        return doc["parsed"]["calib"]
    if "tail" in doc:
        import re
        m = re.search(r'"calib":\{"cpu_md5_sec":([0-9.]+),'
                      r'"spark_range_sec":([0-9.]+)\}', doc["tail"])
        if m:
            return {"cpu_md5_sec": float(m.group(1)),
                    "spark_range_sec": float(m.group(2))}
    return {}


def main():
    # --gate[=LIMIT]: fail (exit 2) unless the host-normalized residual
    # computes AND is <= LIMIT (default 1.05) — the round-close engine-
    # drift tripwire the r9 verdict asked to be exercised end-to-end,
    # not just printed. A residual that can't compute (missing calib)
    # also fails: "couldn't check" must never read as "checked OK".
    gate = None
    args = []
    for a in sys.argv[1:]:
        if a.startswith("--gate"):
            gate = float(a.split("=", 1)[1]) if "=" in a else 1.05
        else:
            args.append(a)
    old_path, new_path = args[0], args[1]
    threshold = float(args[2]) if len(args) > 2 else 1.5
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    old, new = load(old_path), load(new_path)
    led = ledger(os.path.join(repo, "EXCHANGES.txt"))

    # overall drift + host-speed separation: the calibration pair is
    # SF- and plan-independent, so query-median drift ~= calib drift
    # means the VM changed speed, not the engine
    import statistics
    ratios = [new[k] / old[k] for k in set(old) & set(new)
              if old[k] > 0 and new[k] > 0]
    resid = None
    if ratios:
        med = statistics.median(ratios)
        print(f"overall: median query ratio {med:.3f} "
              f"({len(ratios)} common)")
        oc, nc = calib(old_path), calib(new_path)
        # the two probes measure DIFFERENT host dimensions (cpu_md5 =
        # single-thread CPU, spark_range = parallel throughput +
        # scheduler) and can diverge — round 11 caught a host with
        # cpu_md5 0.85x but spark_range 1.72x (multi-core contention).
        # An ENGINE regression shows in query medians but in NEITHER
        # probe, so normalize by the LARGER host ratio: if either
        # probe explains the drift, it's the host.
        hosts = []
        for key in ("cpu_md5_sec", "spark_range_sec"):
            if oc.get(key) and nc.get(key):
                r = nc[key] / oc[key]
                hosts.append(r)
                print(f"calib {key}: {oc[key]:.3f} -> {nc[key]:.3f} "
                      f"(ratio {r:.3f})")
        if hosts:
            host = max(hosts)
            resid = med / host if host > 0 else None
            print(f"host-normalized residual: {resid:.3f} "
                  "(vs the larger calib ratio; ≈1.0 or below ⇒ host "
                  "drift, not engine drift)")
    if gate is not None:
        if resid is None:
            print(f"GATE FAIL: residual could not compute (missing "
                  "calib pair or no common queries)")
            return 2
        if resid > gate:
            print(f"GATE FAIL: engine residual {resid:.3f} > {gate} — "
                  "host-independent slowdown; find the plan change "
                  "(bench_compare movers + EXCHANGES diff) before "
                  "closing the round")
            return 2
        print(f"GATE OK: engine residual {resid:.3f} <= {gate}")
    movers, plan_drift = [], []
    for name in sorted(set(old) & set(new)):
        o, n = old[name], new[name]
        if o <= 0 or n <= 0:
            continue
        ratio = n / o
        if ratio > threshold or ratio < 1 / threshold:
            row = led.get(name, "<no ledger row>")
            movers.append((name, o, n, ratio, row))
    for name in sorted(set(old) ^ set(new)):
        side = "old-only" if name in old else "new-only"
        print(f"NOTE {name}: {side} (surface changed)")
    if not movers:
        print(f"OK: no query moved more than {threshold}x "
              f"({len(set(old) & set(new))} compared)")
        return 0
    print(f"{len(movers)} movers (>{threshold}x either way):")
    print(f"{'query':40s} {'old_s':>8s} {'new_s':>8s} {'ratio':>6s}  ledger")
    for name, o, n, ratio, row in movers:
        print(f"{name:40s} {o:8.3f} {n:8.3f} {ratio:6.2f}  {row}")
    # plan drift check would need the old ledger; EXCHANGES.txt is
    # spec-pinned (ExchangeLedgerSpec), so if `sbt test` is green the
    # ledger rows above are the CURRENT plans == the committed plans,
    # and any mover here is host drift, not plan drift.
    return 0


if __name__ == "__main__":
    sys.exit(main())
