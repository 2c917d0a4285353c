#!/usr/bin/env python3
"""Profiles the whole analytics registry on the benchmark's generated
tables and picks the workload's slice from it.

    python3 perfbench/profile_registry.py > perfbench/REGISTRY_PROFILE.md

Run from the root of a checkout. Times every query of
SparkEntry.queries the way the analytics_registry workload does (build,
executedPlan, full write to the noop sink, state cleared between
queries), PASSES times after one unmeasured pass, then compares each
output with its DuckDB oracle SQL. A query is eligible when it ran,
has oracle SQL, matches it with a non-empty output, and DuckDB takes at
most ORACLE_QUICK_S seconds for the comparison. The slice is
stats.stratified_pick over the eligible queries' median walls, by
family, at the smallest size from SIZE_FROM up whose build, plan and
execute shares of the wall each lie within TOLERANCE of the eligible
registry's. Prints, as markdown, the mean build, plan and execute time
of the eligible registry, of each family and of each slice size tried,
the slice itself (for Registry.Slice) and every eligible query's times;
REGISTRY_PROFILE.md is that output.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def profile(rows):
    """Mean build, plan and execute ms per query, and their shares."""
    n = len(rows)
    parts = {k: sum(r[k] for r in rows) / n for k in ("construct_ms", "plan_ms", "execute_ms")}
    wall = sum(parts.values())
    return dict(queries=n, wall_ms=wall, **parts,
                **{k.replace("_ms", "_share"): v / wall for k, v in parts.items()})


def main():
    root = os.getcwd()
    oracle.gate(root)
    classpath = run.build(root)
    work = os.path.join(HERE, "work", "registry-profile")
    code = run.run_java(classpath, ["perfbench.RegistryProfile", work, str(SEED), str(PASSES)],
                        work, 3000)
    if code != 0:
        raise SystemExit(f"profile JVM failed ({code}):\n{run.tail(os.path.join(work, 'jvm.log'))}")
    prof = json.load(open(os.path.join(work, "profile.json")))
    checks = {q: (ok, detail, secs) for q, ok, detail, _, secs in
              oracle.compare(os.path.join(work, "oracle"), root, limit_s=ORACLE_LIMIT_S)}
    per = {}
    for p in prof["passes"]:
        for t in p:
            per.setdefault(t["query"], []).append(t)
    med = {q: {"query": q, "family": ts[0]["family"],
               **{k: stats.median([t[k] for t in ts]) for k in ("construct_ms", "plan_ms", "execute_ms")}}
           for q, ts in per.items()}
    eligible = {q: r for q, r in med.items()
                if q in checks and checks[q][0] and checks[q][2] <= ORACLE_QUICK_S}
    walls = {}
    for q, r in eligible.items():
        walls.setdefault(r["family"], {})[q] = r["construct_ms"] + r["plan_ms"] + r["execute_ms"]
    target = profile(list(eligible.values()))
    tried = []
    for k in range(SIZE_FROM, len(eligible) + 1):
        pick = stats.stratified_pick(walls, k)
        p = profile([eligible[q] for q in pick])
        tried.append((k, p))
        if all(abs(p[s] - target[s]) <= TOLERANCE for s in SHARES):
            break
    print(report(prof, med, checks, eligible, walls, pick, tried))


SEED = 1
PASSES = 2
# The smallest slice size tried, and the largest gap allowed between a
# slice's and the registry's build, plan and execute shares of the wall.
SIZE_FROM = 8
TOLERANCE = 0.05
SHARES = ("construct_share", "plan_share", "execute_share")
# Every benchmark run compares the slice's outputs with DuckDB, so a
# slice query's oracle must be quick; a few take tens of seconds on the
# generated documents.
ORACLE_QUICK_S = 1.0
ORACLE_LIMIT_S = 20


def report(prof, med, checks, eligible, walls, pick, tried):
    """The profile as markdown: counts, mean splits, the slice and every
    eligible query."""
    def row(label, p):
        return (f"| {label} | {p['queries']} | {p['wall_ms']:.0f} | {p['construct_ms']:.0f} "
                f"({p['construct_share']:.0%}) | {p['plan_ms']:.1f} ({p['plan_share']:.0%}) | "
                f"{p['execute_ms']:.0f} ({p['execute_share']:.0%}) |")
    mismatch = sorted(q for q in med if q in checks and not checks[q][0])
    slow = sorted(q for q in med if q in checks and checks[q][0] and checks[q][2] > ORACLE_QUICK_S)
    out = [
        f"# Registry profile (seed {SEED}, {PASSES} measured passes)",
        "",
        f"`SparkEntry.queries` holds {prof['queries']} queries. On the generated tables "
        f"{len(med)} ran and {len(prof['errors'])} threw; "
        f"{sum(1 for q in med if q not in checks)} that ran have no oracle SQL and "
        f"{len(mismatch)} did not match it, came out empty or ran past {ORACLE_LIMIT_S} s in DuckDB "
        f"({', '.join(mismatch) or 'none'}); {len(slow)} matched but took DuckDB more than "
        f"{ORACLE_QUICK_S:g} s ({', '.join(slow) or 'none'}). "
        f"The other {len(eligible)} are eligible. Times are medians over the passes, in ms.",
        "",
        "| set | queries | wall | build | plan | execute |",
        "|---|---|---|---|---|---|",
        row("eligible registry", profile(list(eligible.values()))),
    ]
    out += [row(f"family `{f}`", profile([eligible[q] for q in qs])) for f, qs in sorted(walls.items())]
    out += [row(f"slice of {k}", p) for k, p in tried]
    out += ["", f"The slice is the first of these, from size {SIZE_FROM} up, whose build, plan "
            f"and execute shares are each within {TOLERANCE:.0%} of the eligible registry's.", "",
            "Slice (`Registry.Slice`): " + ", ".join(f"`{q}`" for q in pick) + ".", "",
            "| query | family | wall | build | plan | execute | slice |",
            "|---|---|---|---|---|---|---|"]
    for q, r in sorted(eligible.items(), key=lambda kv: (kv[1]["family"], kv[0])):
        out.append(f"| `{q}` | {r['family']} | "
                   f"{r['construct_ms'] + r['plan_ms'] + r['execute_ms']:.0f} | "
                   f"{r['construct_ms']:.0f} | {r['plan_ms']:.1f} | {r['execute_ms']:.0f} | "
                   f"{'yes' if q in pick else ''} |")
    if prof["errors"]:
        out += ["", "Queries that threw: " + ", ".join(
            f"`{q}` ({e[:80]})" for q, e in sorted(prof["errors"].items())) + "."]
    return "\n".join(out)


if __name__ == "__main__":
    main()
