#!/usr/bin/env python3
"""Compare the executed plans two checkouts print for the same catalog queries.

Run `Test/runMain graft.Profile explain:sf0.01:<q> ...` in each checkout with
the same query list and the same SPARK_GRAFT_CPUS, save each stdout, then

    python3 tools/plan_diff.py <parent.out> <change.out> [--show]

It prints each spec's job/stage/task counts from both sides and names every SQL
execution whose plan differs after normalization; --show prints those diffs.
Executions and specs are taken from both sides, so one that only one side ran
differs. It exits 1 if any execution's plan or any spec's counts differ.

Normalized away, because they change from run to run without the plan changing:
expression ids (#123), exchange plan_ids, whole-stage-codegen and AQE
query-stage ids, object hash codes and lambda class names, per-run scratch and
staging dirs, UUIDs, RDD ids and source line numbers of call sites. Formatted
explain numbers an operator object once, so the same operator shared by two
subtrees on one side and duplicated on the other only renumbers; operator ids
are therefore dropped from the tree and the detail blocks are compared as a set.
"""
import difflib
import re
import sys

SUBS = [
    (r"#\d+", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"\*\(\d+\)", "*(N)"),
    (r"codegen id : \d+", "codegen id : N"),
    (r"WholeStageCodegen \(\d+\)", "WholeStageCodegen (N)"),
    (r"QueryStage \(\d+\)", "QueryStage (S)"),
    (r"^Arguments: \d+$", "Arguments: STAGE"),
    (r"@[0-9a-f]{5,8}\b", "@H"),
    (r"\$\$\$Lambda\$\d+/0x[0-9a-f]+", "$$$Lambda"),
    (r"graft_staged_\d+", "graft_staged_X"),
    (r"graft_scratch_pid[^/\s,\]]*", "graft_scratch_pidX"),
    (r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID"),
    (r"RDD\[\d+\]", "RDD[N]"),
    (r"(\w+\.scala):\d+", r"\1:L"),
]
LOG_LINE = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d |\[info\]|\[warn\]|\[success\])")


def executions(path):
    """(spec@run#k -> canonical plan text, spec@run -> counts), in run order;
    `run` numbers the repeats of one spec."""
    plans, counts, cur, runs = {}, {}, None, {}
    for raw in open(path, errors="replace"):
        line = raw.rstrip("\n")
        m = re.match(r"^===== (\S+): SQL execution (\d+) of \d+ =====$", line)
        if m:
            cur = "%s@%d#%s" % (m.group(1), runs.get(m.group(1), 0), m.group(2))
            plans[cur] = {"tree": [], "details": set(), "block": None}
            continue
        if line.startswith('{"spec"'):
            c = re.search(r'"spec":"([^"]+)","ok":(\w+).*"spark.jobs":(\d+),'
                          r'"spark.stages":(\d+),"spark.tasks":(\d+)', line)
            spec = c.group(1)
            counts["%s@%d" % (spec, runs.get(spec, 0))] = \
                "ok=%s jobs=%s stages=%s tasks=%s" % c.groups()[1:]
            runs[spec] = runs.get(spec, 0) + 1
            cur = None
            continue
        if cur is None or LOG_LINE.match(line):
            continue
        for pat, rep in SUBS:
            line = re.sub(pat, rep, line)
        p = plans[cur]
        head = re.match(r"^\(\d+\) (.*)$", line)
        if head:
            p["block"] = [head.group(1)]
        elif p["block"] is not None:
            if line:
                p["block"].append(line)
            else:
                p["details"].add("\n".join(p["block"]))
                p["block"] = None
        else:
            p["tree"].append(re.sub(r" \(\d+\)$", "", line))
    out = {}
    for k, p in plans.items():
        if p["block"]:
            p["details"].add("\n".join(p["block"]))
        out[k] = p["tree"] + sorted(p["details"])
    return out, counts


def main():
    a, ca = executions(sys.argv[1])
    b, cb = executions(sys.argv[2])
    specs = list(ca) + [k for k in cb if k not in ca]
    for k in specs:
        print("%-60s %s | %s" % (k, ca.get(k, "missing"), cb.get(k, "missing")))
    keys = list(a) + [k for k in b if k not in a]
    differ = [k for k in keys if a.get(k) != b.get(k)]
    counts_differ = [k for k in specs if ca.get(k) != cb.get(k)]
    print("%d executions, %d differ%s" % (len(keys), len(differ),
                                          (": " + " ".join(differ)) if differ else ""))
    print("%d specs, %d differ in counts%s" % (len(specs), len(counts_differ),
          (": " + " ".join(counts_differ)) if counts_differ else ""))
    if "--show" in sys.argv:
        for k in differ:
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a.get(k, []), b.get(k, []), k + " (parent)", k + " (change)", lineterm=""))
    sys.exit(1 if differ or counts_differ else 0)


if __name__ == "__main__":
    main()
