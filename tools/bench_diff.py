#!/usr/bin/env python
"""Compare two bench JSON files and flag per-query time regressions.

PLANS_FULL.md (pinned by tests/test_plan_shapes.py) gates plan SHAPE
drift book-wide; this closes the remaining observability gap the
round-10 verdict named: wall-TIME drift. BENCH_FULL_r15.json (a
``bench.py --all`` sweep) is the standing per-query baseline; run this
against the next full sweep (or any pair of headline ``bench.py``
outputs, e.g. BENCH_r15.json) to get the regression list the bench
JSON's flat format can't show by eye across 362 entries.

Usage:
    python tools/bench_diff.py BENCH_FULL_r15.json NEW.json
                               [--threshold 1.5]
                               [--min-sec 0.3] [--json]
                               [--control-refs BASE [HEAD]]
                               [--control q1,q2,...]

Exit code 1 if any query regressed past the threshold (so a round
script can gate on it). Queries below --min-sec in BOTH files are
noise-floored and never flagged: at sf0.1 a 0.1 s query jitters 2-3x
run-to-run on a shared local[32] JVM, and flagging those would bury
the real signal (the same floor bench.py's own round-over-round
comparisons have always applied informally).

Control-set normalization (the SCALE.md "Measuring on a shared host"
protocol, executable): a shared local host drifts whole EPOCHS between
rounds (r11→r12 measured a uniform 1.21x on untouched code), so a raw
ratio conflates host speed with code cost. With --control-refs the
tool derives the CONTROL SET mechanically — the shared queries whose
defining module is NOT in the reverse transitive import closure of
``git diff BASE..HEAD`` (the closure tools/changed_queries.py
prints) — computes the median old→new ratio over that set (the host
factor), divides every query's ratio by it,
and flags only the normalized outliers: code-attributable drift, not
weather. --control takes an explicit comma-list instead when the refs
aren't available (e.g. comparing two sweeps of the same commit, where
EVERY query is control). A control set smaller than 5 after the noise
floor is refused (host factor forced to 1.0 with a warning) — a
3-query median is itself weather.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys


def load_queries(path: str) -> dict[str, float]:
    """Per-query seconds from either bench.py's own output (a
    ``queries`` dict) or the driver's BENCH_r{N}.json wrapper, whose
    ``tail`` field holds HEAD-TRUNCATED bench stdout — there the
    complete JSON object is unrecoverable, so the ``"name": sec``
    pairs are regex-scraped instead (the truncation can cost the
    first few queries, never corrupt a surviving pair: each pair is
    self-delimiting and the scrape drops any torn prefix)."""
    with open(path) as fh:
        doc = json.load(fh)
    qs = doc.get("queries")
    if isinstance(qs, dict) and qs:
        return {k: float(v) for k, v in qs.items()
                if isinstance(v, (int, float))}
    tail = doc.get("tail")
    if isinstance(tail, str):
        pairs = re.findall(r'"([a-z0-9_]+)":\s*(-?\d+(?:\.\d+)?)', tail)
        # Whitelist by query-name shape (tier prefix a/b/c/m + number,
        # or flagship_*) instead of blacklisting wrapper keys: any
        # present-or-future numeric wrapper field would otherwise be
        # misreported as a query and trigger spurious regressed/missing
        # verdicts (r12 advisor catch).
        qname = re.compile(r"^(?:[abcm]\d+[a-z]?_|flagship_)")
        return {k: float(v) for k, v in pairs if qname.match(k)}
    return {k: float(v) for k, v in doc.items()
            if isinstance(v, (int, float))}


def control_set(old: dict[str, float], new: dict[str, float],
                base: str, head: str) -> list[str]:
    """Shared queries whose defining module is untouched by
    ``git diff base..head`` (transitively, over the package import
    graph) — the mechanically-derived control set.

    One deliberate divergence from tools/changed_queries.py's
    closure: HUB modules — whose reverse closure
    reaches at least half the registered queries (plans/registry.py,
    plans/__init__.py, session.py are the perennial ones) — are
    dropped from the changed set before the closure. For correctness
    the conservative rule is right (a registry change CAN flip any
    query's result); for a wall-time control it degenerates — a
    one-line registration-guard edit empties the control set every
    round. Safety argument: control membership only feeds the MEDIAN
    normalizer, it does NOT exempt a query from flagging — every
    shared query is still individually compared post-normalization —
    so a hub-module regression that slows some dependents is still
    caught; the median is robust until a majority of control queries
    drift TOGETHER. That majority case (a real uniform regression in
    a hub module) is the documented blind spot — indistinguishable
    from host drift here; the same-host alternating A/B (SCALE.md) is
    the discriminator."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import subprocess

    import changed_queries as cq

    sys.path.insert(0, cq.ROOT)
    out = subprocess.run(
        ["git", "diff", "--name-only", f"{base}..{head}"],
        cwd=cq.ROOT, capture_output=True, text=True, check=True,
    ).stdout.split()
    known = cq.package_modules()
    path_to_mod = {p: m for m, p in known.items()}
    changed = {path_to_mod[p] for p in out if p in path_to_mod}

    from openweathermapapi_etl_spark.plans import QUERIES

    def query_reach(mods: set[str]) -> int:
        closure = cq.affected_modules(mods, known)
        return sum(1 for fn in QUERIES.values() if fn.__module__ in closure)

    hubs = {
        m for m in changed
        if query_reach({m}) >= len(QUERIES) / 2
    }
    if hubs:
        print(f"control derivation: ignoring hub module(s) "
              f"{sorted(m.rsplit('.', 1)[-1] for m in hubs)} "
              f"(uniform-cost by construction; see tool docstring)",
              file=sys.stderr)
    affected = (
        cq.affected_modules(changed - hubs, known) if changed - hubs else {}
    )
    return sorted(
        q for q in set(old) & set(new)
        if q in QUERIES and QUERIES[q].__module__ not in affected
    )


def host_factor(old: dict[str, float], new: dict[str, float],
                control: list[str], min_sec: float) -> tuple[float, int]:
    """Median old→new ratio over the control queries above the noise
    floor: the host-epoch factor every ratio is normalized by.
    BOTH sides must clear the floor — a sub-floor denominator (0.1s →
    0.3s) is pure jitter reading as 3.0×, and a few such pairs skew
    the normalizer every ratio is divided by (r14 advisor catch; the
    or-rule remains correct in diff(), where it *flags* rather than
    normalizes). Returns (factor, n_used); refuses (factor 1.0) below
    5 queries — a tiny median is itself noise."""
    ratios = [
        new[q] / old[q]
        for q in control
        if old[q] >= min_sec and new[q] >= min_sec
    ]
    if len(ratios) < 5:
        return 1.0, len(ratios)
    return statistics.median(ratios), len(ratios)


def diff(
    old: dict[str, float],
    new: dict[str, float],
    threshold: float,
    min_sec: float,
    host: float = 1.0,
) -> dict:
    shared = sorted(set(old) & set(new))
    regressed, improved = [], []
    for name in shared:
        o, n = old[name], new[name]
        if o < min_sec and n < min_sec:
            continue  # noise floor: both runs too fast to compare
        ratio = (n / o if o > 0 else float("inf")) / host
        row = {"query": name, "old_s": round(o, 3), "new_s": round(n, 3),
               "ratio": round(ratio, 2)}
        if ratio >= threshold:
            regressed.append(row)
        elif ratio <= 1.0 / threshold:
            improved.append(row)
    regressed.sort(key=lambda r: -r["ratio"])
    improved.sort(key=lambda r: r["ratio"])
    return {
        "host_factor": round(host, 3),
        "shared": len(shared),
        "only_old": sorted(set(old) - set(new)),
        "only_new": sorted(set(new) - set(old)),
        # A query that VANISHED from the new run (crashed/hung out of
        # the sweep) is the worst regression, not a footnote — gate on
        # it too, noise-floored like everything else. Renames/removals
        # are deliberate acts; re-baseline when they happen.
        "missing": sorted(
            q for q in set(old) - set(new) if old[q] >= min_sec
        ),
        "sum_old_s": round(sum(old[q] for q in shared), 1),
        "sum_new_s": round(sum(new[q] for q in shared), 1),
        "regressed": regressed,
        "improved": improved,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5,
                    help="flag ratio >= this (default 1.5)")
    ap.add_argument("--min-sec", type=float, default=0.3,
                    help="noise floor: skip queries under this in both runs")
    ap.add_argument("--json", action="store_true", dest="as_json")
    ap.add_argument("--control-refs", nargs="+", metavar="REF",
                    help="derive control set from git diff BASE [HEAD] "
                         "(untouched modules' queries)")
    ap.add_argument("--control", metavar="Q1,Q2,...",
                    help="explicit comma-separated control query list")
    args = ap.parse_args()

    old, new = load_queries(args.old), load_queries(args.new)
    host, n_ctl = 1.0, 0
    if args.control_refs and args.control:
        ap.error("--control-refs and --control are mutually exclusive")
    if args.control_refs:
        if len(args.control_refs) > 2:
            ap.error("--control-refs takes BASE [HEAD]")
        base = args.control_refs[0]
        head = args.control_refs[1] if len(args.control_refs) > 1 else "HEAD"
        ctl = control_set(old, new, base, head)
        host, n_ctl = host_factor(old, new, ctl, args.min_sec)
        print(f"control set: {len(ctl)} untouched queries "
              f"({n_ctl} above noise floor) -> host factor {host:.3f}",
              file=sys.stderr)
    elif args.control:
        ctl = [q.strip() for q in args.control.split(",") if q.strip()]
        missing_ctl = [q for q in ctl if q not in old or q not in new]
        if missing_ctl:
            ap.error(f"control queries absent from a run: {missing_ctl}")
        host, n_ctl = host_factor(old, new, ctl, args.min_sec)
        print(f"control set: {len(ctl)} declared queries "
              f"({n_ctl} above noise floor) -> host factor {host:.3f}",
              file=sys.stderr)
    if (args.control_refs or args.control) and n_ctl < 5:
        print("WARNING: control set under 5 usable queries — host "
              "factor forced to 1.0 (raw ratios)", file=sys.stderr)

    d = diff(old, new, args.threshold, args.min_sec, host=host)
    if args.as_json:
        print(json.dumps(d, indent=2))
    else:
        if d["shared"] and d["sum_old_s"] > 0:
            norm = (f", host-normalized by {d['host_factor']}x"
                    if d["host_factor"] != 1.0 else "")
            print(f"shared queries: {d['shared']}  "
                  f"total {d['sum_old_s']}s -> {d['sum_new_s']}s "
                  f"({d['sum_new_s'] / d['sum_old_s']:.2f}x raw{norm})")
        elif d["shared"]:
            print(f"shared queries: {d['shared']}  "
                  f"total {d['sum_old_s']}s -> {d['sum_new_s']}s")
        else:
            print("no shared queries")
        for tag in ("only_old", "only_new"):
            if d[tag]:
                print(f"{tag}: {', '.join(d[tag])}")
        if d["missing"]:
            print(f"\nMISSING from new run (>= {args.min_sec}s in old — "
                  f"crashed or dropped out of the sweep?):")
            for q in d["missing"]:
                print(f"  {q}")
        for label, rows in (("REGRESSED", d["regressed"]),
                            ("improved", d["improved"])):
            if rows:
                print(f"\n{label} (>= {args.threshold}x, "
                      f"noise floor {args.min_sec}s):")
                for r in rows:
                    print(f"  {r['ratio']:6.2f}x  {r['old_s']:7.3f}s -> "
                          f"{r['new_s']:7.3f}s  {r['query']}")
    return 1 if d["regressed"] or d["missing"] else 0


if __name__ == "__main__":
    sys.exit(main())
