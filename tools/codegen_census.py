#!/usr/bin/env python3
"""Census of Spark's generated-class compiles, read from a log that has
the `org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator`
logger at DEBUG. Spark logs each janino compile (each cache miss) there
as its formatted source, one `/* 001 */`-numbered block per compile.

Prints:
  - compiles, and their total ms from "Code generated in" lines;
  - distinct bodies (the cache's key without its class loader: a body
    compiled under the driver's and again under an executor's loader
    counts once here and twice as compiles);
  - per generated-class kind (GeneratedIterator, SpecificUnsafeProjection,
    ...): compiles and distinct bodies;
  - bodies that differ only in a whole-stage stage id
    (`GeneratedIteratorForCodegenStage<N>`): how many distinct bodies
    collapse, per group, once the id is masked. Non-zero means
    `spark.sql.codegen.useIdInClassName` is on and the same pipeline
    misses the cache because its stage id moved.

Comments are dropped before bodies are compared: Spark keys its cache on
the body with comment placeholders, and the log prints the comments
(stage ids among them) in place.

Usage: python3 tools/codegen_census.py LOG [--json]

A log for it, with a main and a log4j2 file outside the repo (for instance
`cg.properties`: the test resources' console appender, plus
`logger.cg.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator`
and `logger.cg.level = debug`):
    sbt -batch 'set run / javaOptions += "-Dlog4j2.configurationFile=cg.properties"' \\
        "runMain graft.Bench q_minhash_rollup q_ann_pq q_dedup_minhash" 2> cg.log
    python3 tools/codegen_census.py cg.log
"""
import json
import re
import sys
from collections import Counter, defaultdict

LINE = re.compile(r"^/\* (\d{3,}) \*/ ?(.*)$")
COMPILE_MS = re.compile(r"Code generated in ([0-9.]+) ms")
CLASS = re.compile(r"\bclass (\w+)")
STAGE = re.compile(r"GeneratedIteratorForCodegenStage\d+")
COMMENTS = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)


def blocks(lines):
    """Yield each compile's source: a run of numbered lines that starts at
    /* 001 */ right after a CodeGenerator log line."""
    cur, prev = None, ""
    for raw in lines:
        line = raw.rstrip("\n")
        m = LINE.match(line)
        if m and m.group(1).lstrip("0") == "1" and "CodeGenerator" in prev:
            if cur is not None:
                yield "\n".join(cur)
            cur = [m.group(2)]
        elif m and cur is not None:
            cur.append(m.group(2))
        elif cur is not None:
            yield "\n".join(cur)
            cur = None
        prev = line
    if cur is not None:
        yield "\n".join(cur)


def kind(body):
    """The generated class's name without a stage-id suffix."""
    m = CLASS.search(body)
    return re.sub(r"\d+$", "", m.group(1)) if m else "?"


def census(path):
    with open(path, errors="replace") as f:
        lines = f.readlines()
    compile_ms = sum(float(m.group(1)) for l in lines
                     for m in [COMPILE_MS.search(l)] if m)
    bodies = [" ".join(COMMENTS.sub("", b).split()) for b in blocks(lines)]
    kinds = [kind(b) for b in bodies]
    per_kind = defaultdict(lambda: [0, set()])
    for b, k in zip(bodies, kinds):
        per_kind[k][0] += 1
        per_kind[k][1].add(b)
    distinct = set(bodies)
    masked = defaultdict(set)
    for b in distinct:
        if STAGE.search(b):
            masked[STAGE.sub("GeneratedIteratorForCodegenStageN", b)].add(b)
    stage_groups = sorted((len(v) for v in masked.values() if len(v) > 1),
                          reverse=True)
    repeats = Counter(Counter(bodies).values())
    return {
        "compiles": len(bodies),
        "compile_ms": round(compile_ms, 1),
        "distinct_bodies": len(distinct),
        "compiles_per_body": dict(sorted(repeats.items())),
        "kinds": {k: {"compiles": n, "distinct": len(s)}
                  for k, (n, s) in sorted(per_kind.items(),
                                          key=lambda kv: -kv[1][0])},
        "stage_id_only": {"groups": len(stage_groups),
                          "bodies": sum(stage_groups),
                          "extra_bodies": sum(stage_groups) - len(stage_groups),
                          "group_sizes": stage_groups},
    }


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 1:
        sys.exit(__doc__)
    c = census(args[0])
    if "--json" in sys.argv:
        print(json.dumps(c, indent=1))
        return
    if c["compiles"] == 0:
        sys.exit("no compiles found: is the CodeGenerator logger at DEBUG?")
    print(f"compiles         {c['compiles']}  ({c['compile_ms']} ms logged)")
    print(f"distinct bodies  {c['distinct_bodies']}")
    print("compiles per body  " + ", ".join(
        f"{n}x: {b}" for n, b in c["compiles_per_body"].items()))
    print("kind                              compiles  distinct")
    for k, v in c["kinds"].items():
        print(f"  {k:<32}{v['compiles']:>8}{v['distinct']:>10}")
    s = c["stage_id_only"]
    print(f"differ only in stage id: {s['bodies']} bodies in {s['groups']} "
          f"groups ({s['extra_bodies']} extra)"
          + (f", group sizes {s['group_sizes']}" if s["groups"] else ""))


if __name__ == "__main__":
    main()
