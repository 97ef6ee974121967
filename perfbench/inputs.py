"""Workload inputs, made from the seed: the same seed gives the same rows in
the same order."""

import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))


def _load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def compile_queries():
    """The reference's five benchmark.js queries plus the SQL of the 35
    ifrit-dialect rows, each with the JSON schema it is compiled against."""
    schemas = _load("compile/schemas.json")
    return [dict(q, schema_json=json.dumps(schemas[q["schema"]], separators=(",", ":")))
            for q in _load("compile/queries.json")]


def dialect_rows():
    """The 35 SparkEntry rows that run dialect SQL through the compiler."""
    return [q["id"] for q in _load("compile/queries.json") if q["id"].startswith("q_")]


def operator_draw(seed):
    """The operator rows for one seed: every forced row (the five DialMemo
    sites, q_dedup_minhash and one pipeline row) plus one row drawn from
    each pool family, in a seeded order."""
    spec = _load("operators.json")
    rng = random.Random(seed)
    rows = list(spec["forced"])
    for family in sorted(spec["pool"]):
        rows += rng.sample(sorted(spec["pool"][family]), 1)
    rng.shuffle(rows)
    return rows


def rows_for(workload, seed):
    """The round-robin pass of one workload, in the order the seed gives."""
    if workload == "compile":
        rows = compile_queries()
    elif workload == "dialect":
        rows = dialect_rows()
    else:
        return operator_draw(seed)
    random.Random(seed).shuffle(rows)
    return rows
