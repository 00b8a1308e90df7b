#!/usr/bin/env python3
"""Per-op layer table of a traced perfbench pass.

    python3 tools/op_layers.py .perfbench/runs/tail_sf0.01-seed1-trace1.spans.json
    python3 tools/op_layers.py BEFORE.spans.json AFTER.spans.json

For every op of the pass: its construction phase (`fn(spark, dir)`
returning) and its sink phase (the noop save), each as seconds, Spark jobs
and self seconds (the part of the phase with no job of its own running).
Given two span files, each cell reads `before -> after`. Ops are listed in
name order, then a total row. Stdlib only; the span format is the one
`perfbench/benchlib.py:spans` writes.
"""
import json
import sys

PHASES = ("construct", "sink")
COLUMNS = ("s", "jobs", "self_s")


def layers(spans):
    """{op name: {phase: {"s", "jobs", "self_s"}}} from one pass's spans."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        if s["layer"] == "op":
            out[s["name"]] = {p: {"s": 0.0, "jobs": 0, "self_s": 0.0}
                              for p in PHASES}
    for s in spans:
        if s["layer"] in PHASES:
            cell = out[s["name"]][s["layer"]]
            cell["s"] += s["end"] - s["start"]
            cell["self_s"] += s["self_s"]
        elif s["layer"] == "job":
            phase = by_id[s["parent"]]
            out[phase["name"]][phase["layer"]]["jobs"] += 1
    return out


def total(table):
    return {p: {c: sum(row[p][c] for row in table.values()) for c in COLUMNS}
            for p in PHASES}


def _fmt(v):
    return str(v) if isinstance(v, int) else f"{v:.2f}"


def render(tables):
    """Markdown table; one input gives values, two give `before -> after`."""
    names = sorted(set().union(*tables), key=_op_key)
    rows = [(n, [t.get(n) for t in tables]) for n in names]
    rows.append(("total", [total(t) for t in tables]))
    head = ["op"] + [f"{p} {c}" for p in PHASES for c in COLUMNS]
    lines = ["| " + " | ".join(head) + " |",
             "|" + "---|" * len(head)]
    for name, cells in rows:
        vals = []
        for p in PHASES:
            for c in COLUMNS:
                vals.append(" -> ".join(
                    "-" if cell is None else _fmt(cell[p][c]) for cell in cells))
        lines.append("| " + " | ".join([name] + vals) + " |")
    return "\n".join(lines)


def _op_key(name):
    """q9 before q10: registry names sort by their number."""
    digits = "".join(ch for ch in name[1:].split("_")[0] if ch.isdigit())
    return (int(digits) if name[:1] == "q" and digits else 1 << 30, name)


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip().splitlines()[0], file=sys.stderr)
        print("usage: op_layers.py SPANS.json [AFTER.spans.json]", file=sys.stderr)
        return 2
    tables = []
    for path in argv[1:]:
        with open(path) as fh:
            tables.append(layers(json.load(fh)))
    print(render(tables))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
