#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (sf0.001 catalog, a few seconds
of stream). Takes ~5 minutes on 4 cores.

    python3 perfbench/selftest.py

Asserts that
  * every workload, untraced and traced, exits 0, reports correct=true and
    prints every metric BENCHMARK.json names, with its unit;
  * a corrupted expected fingerprint fails the catalog check (non-zero exit);
  * a generator file that is never published fails the stream check;
  * a directory holding only BENCHMARK.json and perfbench/ (no library
    sources) exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, ".run", "selftest")
RUN = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7", "--seconds", "3", "--tiny"]
WORKLOADS = ("stream_steady", "stream_backlog", "catalog_mix")


def run(*args, cwd=REPO):
    r = subprocess.run(list(args), cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return r.returncode, result, r.stderr


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in WORKLOADS:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(*RUN, "--workload", w, "--trace", str(trace))
            expect(rc == 0 and res is not None and res.get("correct") is True,
                   f"{w} trace={trace} runs and is correct (rc={rc})")
            if res is None:
                sys.stderr.write(err[-3000:])
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace} result has exactly the four keys")
            for m in bench[section]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got.get("unit") == m["unit"]
                       and isinstance(got.get("value"), (int, float)),
                       f"{w} trace={trace} prints {m['name']} in {m['unit']}")

    os.makedirs(SCRATCH, exist_ok=True)
    bad = os.path.join(SCRATCH, "fingerprints.json")
    with open(os.path.join(HERE, "expected_fingerprints.json")) as fh:
        fps = json.load(fh)
    for q, fp in fps["sf0.001"].items():
        rows, digest = fp.split(":")
        fps["sf0.001"][q] = f"{rows}:{int(digest) + 1}"
    with open(bad, "w") as fh:
        json.dump(fps, fh)
    rc, res, _ = run(*RUN, "--workload", "catalog_mix", "--expected", bad)
    expect(rc != 0 and (res is None or res.get("correct") is False),
           f"corrupted expected fingerprints fail the catalog check (rc={rc})")

    rc, res, _ = run(*RUN, "--workload", "stream_steady", "--fault", "drop-file")
    expect(rc != 0 and (res is None or res.get("correct") is False),
           f"a dropped generator file fails the stream check (rc={rc})")

    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".build", ".run", ".cache", "results",
                                                  "__pycache__"))
    r = subprocess.run(bench["command"] + ["--workload", "catalog_mix", "--seed", "1",
                                           "--seconds", "3", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    expect(r.returncode != 0 and not r.stdout.strip(),
           f"a checkout without library sources exits non-zero, printing nothing (rc={r.returncode})")
    shutil.rmtree(SCRATCH, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
