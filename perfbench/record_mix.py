#!/usr/bin/env python3
"""Record the expected outputs of the report_mix queries into mix.json.

    python3 perfbench/record_mix.py a8_rule_violations p2_iqr_filter ...

Run from the root of the source tree. Each named registry query runs in two
separate JVMs over the fixed mix tables; each JVM runs it through the `noop`
sink twice and digests it twice. The row count and digest are recorded. A
query whose digests differ between or within the JVMs is not run-to-run
deterministic: it goes on the rows-only list and is checked by row count
alone. Re-record only when a change to the engine is meant to change a
query's output.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def survey(work, classpath, data_dir, names, tag):
    out = os.path.join(work, "runs", f"survey-{tag}")
    os.makedirs(out, exist_ok=True)
    run.run_jvm(work, classpath, ["survey", data_dir, out, 0, 0, 0, ",".join(names)],
                os.path.join(out, "jvm.log"), timeout=60 * len(names))
    with open(os.path.join(out, "survey.jsonl")) as f:
        return {r["name"]: r for r in map(json.loads, f)}


def main():
    names = sys.argv[1:]
    if not names:
        run.fail("name the registry queries of the mix")
    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    classpath = run.build(root, work)
    wl = run.WORKLOADS["report_mix"]
    data_dir, _ = gen.ensure(os.path.join(work, "inputs"), wl["kind"], gen.MIX_SEED, wl["size"])
    a, b = (survey(work, classpath, data_dir, names, t) for t in ("a", "b"))
    failed = [n for n in names if not (a.get(n, {}).get("ok") and b.get(n, {}).get("ok")
                                       and a[n]["rows"] == b[n]["rows"])]
    if failed:
        run.fail(f"queries failed, are not in the registry or differ in row count: {failed}")
    mix = {"queries": names,
           "expected": {n: {"rows": a[n]["rows"], "digest": a[n]["digest"]} for n in names},
           "rows_only": [n for n in names
                         if not (a[n]["stable"] and b[n]["stable"] and a[n]["digest"] == b[n]["digest"])]}
    with open(os.path.join(HERE, "mix.json"), "w") as f:
        json.dump(mix, f, indent=1)
        f.write("\n")
    print(json.dumps({n: [a[n]["first_s"], a[n]["second_s"]] for n in names}))


if __name__ == "__main__":
    main()
