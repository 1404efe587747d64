"""Interleaved A/B of one command across two git revisions.

    python tools/ab.py REV_A REV_B [--pairs 10] -- CMD...

Each revision is extracted with ``git archive`` into a temporary
directory; ``.`` stands for the working tree as it is, and runs in
place. CMD runs once per side in each of N pairs, from the root of that
side's tree, the side that goes first alternating pair by pair. ``{i}``
in CMD becomes the pair index (0-based), so each pair can take a fresh
seed. The last line of CMD's stdout must be a JSON object: every number
in it is a metric (nested keys joined with ``.``; an object with a
``"value"`` is that value). Per metric, the report gives each side's
median and quartiles, B's change in the median, and the pairs in which
B read lower / higher than A. A run that exits non-zero is reported and
leaves its pair out of that metric. The last line of the report is the
raw values as JSON.

Example, the benchmark's ingest workload, parent commit vs working tree:

    python tools/ab.py HEAD~1 . --pairs 10 -- python3 perfbench/run.py \\
        --workload ingest --seed 1{i} --seconds 9 --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(rev: str, parent: str) -> str:
    """Directory holding ``rev``'s tree: the working tree for ``.``,
    else a ``git archive`` of it under ``parent``."""
    if rev == ".":
        return REPO
    dest = tempfile.mkdtemp(prefix="ab-", dir=parent)
    git = subprocess.Popen(
        ["git", "-C", REPO, "archive", "--format=tar", rev],
        stdout=subprocess.PIPE,
    )
    with tarfile.open(fileobj=git.stdout, mode="r|") as tar:
        tar.extractall(dest, filter="data")
    if git.wait() != 0:
        sys.exit(f"ab: git archive {rev} failed")
    return dest


def flatten(obj, prefix: str = "") -> dict:
    if isinstance(obj, dict):
        if "value" in obj:
            return flatten(obj["value"], prefix)
        out = {}
        for k, v in obj.items():
            out.update(flatten(v, f"{prefix}.{k}" if prefix else k))
        return out
    if isinstance(obj, (int, float)) and not isinstance(obj, bool):
        return {prefix: float(obj)}
    return {}


def run(cmd: list[str], cwd: str, i: int, label: str) -> dict | None:
    argv = [a.replace("{i}", str(i)) for a in cmd]
    t0 = time.perf_counter()
    p = subprocess.run(argv, cwd=cwd, capture_output=True, text=True)
    dt = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    try:
        if p.returncode:
            raise ValueError(f"exit {p.returncode}")
        got = flatten(json.loads(lines[-1]))
    except (ValueError, IndexError) as e:
        print(f"pair {i} {label}: FAILED ({e}) after {dt:.0f}s\n"
              + p.stderr[-2000:], file=sys.stderr)
        return None
    print(f"pair {i} {label}: {dt:.0f}s", file=sys.stderr, flush=True)
    return got


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(pairs: list[tuple]) -> dict:
    """Print one line per metric; return {metric: {"a": [...], "b": [...]}}."""
    metrics = sorted({m for p in pairs for side in p if side for m in side})
    raw = {}
    print(f"{'metric':<40} {'A median [q1, q3]':>28} {'B median [q1, q3]':>28}"
          f" {'B-A':>7} {'B<A':>4} {'B>A':>4}")
    for m in metrics:
        both = [(a[m], b[m]) for a, b in pairs if a and b and m in a and m in b]
        if not both:
            continue
        raw[m] = {"a": [x for x, _ in both], "b": [y for _, y in both]}
        cells = []
        for xs in raw[m].values():
            q1, med, q3 = quartiles(xs)
            cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}]")
        am, bm = quartiles(raw[m]["a"])[1], quartiles(raw[m]["b"])[1]
        rel = f"{(bm - am) / abs(am):+.1%}" if am else "n/a"
        lower = sum(y < x for x, y in both)
        higher = sum(y > x for x, y in both)
        print(f"{m:<40} {cells[0]:>28} {cells[1]:>28} {rel:>7} "
              f"{lower:>4} {higher:>4}")
    return raw


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        usage="%(prog)s REV_A REV_B [--pairs N] -- CMD...",
    )
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--pairs", type=int, default=10)
    argv = sys.argv[1:]
    if "--" not in argv or argv[-1] == "--":
        ap.error("no command after --")
    cut = argv.index("--")
    args, cmd = ap.parse_args(argv[:cut]), argv[cut + 1:]
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = [extract(r, tmp) for r in (args.rev_a, args.rev_b)]
        pairs = []
        for i in range(args.pairs):
            got = [None, None]
            for side in (0, 1) if i % 2 == 0 else (1, 0):
                got[side] = run(cmd, trees[side], i, "AB"[side])
            pairs.append(tuple(got))
    print(f"A = {args.rev_a}   B = {args.rev_b}   pairs = {args.pairs}")
    raw = report(pairs)
    failed = [sum(p[s] is None for p in pairs) for s in (0, 1)]
    print(f"failed runs: A {failed[0]}, B {failed[1]}")
    print(json.dumps({"a": args.rev_a, "b": args.rev_b, "failed": failed,
                      "metrics": raw}))
    return 1 if any(failed) else 0


if __name__ == "__main__":
    sys.exit(main())
