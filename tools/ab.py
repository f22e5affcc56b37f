#!/usr/bin/env python3
"""A/B named registered queries between two git revisions.

    SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 python tools/ab.py <rev_a> <rev_b> <query> [<query> ...]

A revision is any commit-ish; ``$(git stash create)`` stands for the
uncommitted work in the checkout.  Each revision's
``wiki_references_db_spark`` is exported (``git archive``) into a
temporary directory, removed on exit.  The measuring code, this file,
``perfbench.trace.Tracer`` and the row canonicalisation of
``wiki_references_db_spark.oracle``, always comes from the current
checkout.

Every round runs one fresh process per side, alternating which side goes
first.  Two revisions cannot share a driver and its JVM: Python workers
import UDF modules by name, so one side's UDFs would run the other
side's code.  A child process warms up by collecting each query on the
``sf0.001`` tables beside the timed scale factor, then runs ``PASSES``
timed passes over the query list.  A pass builds a fresh DataFrame,
writes it to ``noop`` and calls ``clearCache()``, the way the benchmark's
query mix times a query; construction and execution are separate spans.
Pass 1 is the query's cold time, the minimum of passes 2.. its warm time.

Before any verdict the two sides' results must be identical: the first
round's children save their collected frames at sf0.001 and at the timed
scale factor, and the parent compares them by ``oracle.canonical_rows``
(row order ignored, duplicates counted, floats at full precision).  A
difference exits 1 with the first differing row.

A fresh JVM draws a JIT mode that stays pinned for its whole life, so
each side is summarised by its median over rounds, never by one JVM's
minimum.  B is faster (or slower) only when it wins (or loses) at least
9 in 10 rounds, ties counting for neither side, and the medians differ
by more than A's interquartile range; otherwise the verdict is
"unresolved".
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
import tarfile
import tempfile

TOOLS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(TOOLS)
# Appended, not prepended: in a child process the revision's tree must
# stay ahead of the checkout's copy of the engine package.
if ROOT not in sys.path:
    sys.path.append(ROOT)

from perfbench.stats import median, nearest_rank  # noqa: E402

ROUNDS = 10
PASSES = 4
PACKAGE = "wiki_references_db_spark"
WARM_SF = "sf0.001"
LAYERS = ("jobs", "tasks", "executor_run_s", "gc_s",
          "shuffle_write_mb", "spill_mb", "driver_gap_s")


def round_order(rounds: int) -> list[tuple[str, str]]:
    """The side that runs first alternates from round to round."""
    return [("a", "b") if r % 2 == 0 else ("b", "a") for r in range(rounds)]


def iqr(values: list[float]) -> float:
    return nearest_rank(values, 75) - nearest_rank(values, 25)


def verdict(a: list[float], b: list[float]) -> str:
    """B against A over paired rounds: "faster", "slower" or
    "unresolved"."""
    n = len(a)
    b_wins = sum(y < x for x, y in zip(a, b))
    a_wins = sum(x < y for x, y in zip(a, b))
    gap = median(a) - median(b)
    if 10 * b_wins >= 9 * n and gap > iqr(a):
        return "faster"
    if 10 * a_wins >= 9 * n and -gap > iqr(a):
        return "slower"
    return "unresolved"


def frame_difference(a, b) -> str | None:
    """None when frames ``a`` and ``b`` hold the same result, else the
    first difference."""
    from wiki_references_db_spark.oracle import frame_difference as diff

    return diff(a, b, ("A", "B"))


# -- child process ------------------------------------------------------


def _pass(spark, tracer, fn, sf_dir: str) -> dict:
    with tracer.span("construct") as construct:
        df = fn(spark, sf_dir)
    with tracer.span("exec") as execute:
        df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spans = [construct, execute]
    row = {"construct_s": construct.seconds, "exec_s": execute.seconds}
    row.update({k: tracer.sum_spark(spans, k) for k in LAYERS})
    return row


def child(spec_json: str) -> None:
    """Runs in a fresh process whose import path starts with one
    revision's tree; writes the passes to ``spec["out"]``."""
    from perfbench.trace import Tracer
    from wiki_references_db_spark.queries import all_queries
    from wiki_references_db_spark.session import get_spark

    spec = json.loads(spec_json)
    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, enabled=True)
    registry = all_queries()
    fns = {q: registry[q] for q in spec["queries"]}
    save = spec["save"]

    for q, fn in fns.items():
        warm = fn(spark, spec["warm_dir"]).toPandas()
        spark.catalog.clearCache()
        if save:
            warm.to_pickle(os.path.join(save, f"{q}.{WARM_SF}.pkl"))
    passes = {q: [] for q in fns}
    for _ in range(PASSES):
        for q, fn in fns.items():
            passes[q].append(_pass(spark, tracer, fn, spec["sf_dir"]))
    if save:
        for q, fn in fns.items():
            fn(spark, spec["sf_dir"]).toPandas().to_pickle(
                os.path.join(save, f"{q}.sf.pkl"))
            spark.catalog.clearCache()
    with open(spec["out"], "w") as fh:
        json.dump(passes, fh)
    spark.stop()


# -- parent process -----------------------------------------------------


def _git(*args: str) -> bytes:
    proc = subprocess.run(["git", *args], cwd=ROOT, capture_output=True)
    if proc.returncode != 0:
        raise SystemExit(f"git {' '.join(args)}: {proc.stderr.decode().strip()}")
    return proc.stdout


def _export(rev: str, dest: str) -> str:
    """Extract the revision's engine package into ``dest``."""
    sha = _git("rev-parse", "--verify", f"{rev}^{{commit}}").decode().strip()
    with tarfile.open(fileobj=io.BytesIO(_git("archive", sha, PACKAGE))) as tar:
        tar.extractall(dest, filter="data")
    return sha


def _run_child(tree: str, spec: dict, log: str) -> dict:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([tree, TOOLS, ROOT]))
    with open(log, "w") as err:
        proc = subprocess.run(
            [sys.executable, "-c", "import sys, ab; ab.child(sys.argv[1])",
             json.dumps(spec)],
            cwd=tree, env=env, stdout=err, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise SystemExit(f"child for {tree} failed ({proc.returncode}):\n{tail}")
    with open(spec["out"]) as fh:
        return json.load(fh)


def _pass_line(r: int, side: str, q: str, i: int, p: dict) -> str:
    total = p["construct_s"] + p["exec_s"]
    return (f"round {r + 1:2d} {side.upper()} {q} pass {i + 1}: {total:.3f} s"
            f" (construct {p['construct_s']:.3f}, exec {p['exec_s']:.3f})"
            f" jobs {p['jobs']:.0f} tasks {p['tasks']:.0f}"
            f" run {p['executor_run_s']:.2f} s gc {p['gc_s']:.2f} s"
            f" shuffle_write {p['shuffle_write_mb']:.1f} MB"
            f" spill {p['spill_mb']:.1f} MB driver_gap {p['driver_gap_s']:.2f} s")


def _check_identity(tmp: str, queries: list[str]) -> bool:
    from pandas import read_pickle

    same = True
    for q in queries:
        for sf, label in ((WARM_SF, WARM_SF), ("sf", "timed sf")):
            name = f"{q}.{sf}.pkl"
            diff = frame_difference(read_pickle(os.path.join(tmp, "a-frames", name)),
                                    read_pickle(os.path.join(tmp, "b-frames", name)))
            if diff is None:
                print(f"identical: {q} at {label}")
            else:
                print(f"RESULTS DIFFER: {q} at {label}: {diff}")
                same = False
    return same


def _summary(q: str, kind: str, a: list[float], b: list[float]) -> str:
    b_wins = sum(y < x for x, y in zip(a, b))
    return (f"{q} {kind}: A median {median(a):.3f} s (IQR {iqr(a):.3f}),"
            f" B median {median(b):.3f} s (IQR {iqr(b):.3f});"
            f" B won {b_wins}/{len(a)} rounds -> B {verdict(a, b)}")


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    rev_a, rev_b, *queries = argv
    from wiki_references_db_spark.tables import DEFAULT_SF_DIR

    sf_dir = os.path.abspath(DEFAULT_SF_DIR)
    warm_dir = os.path.join(os.path.dirname(sf_dir), WARM_SF)
    times = {q: {"a": {"cold": [], "warm": []}, "b": {"cold": [], "warm": []}}
             for q in queries}
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {}
        for side, rev in (("a", rev_a), ("b", rev_b)):
            trees[side] = os.path.join(tmp, side)
            sha = _export(rev, trees[side])
            print(f"{side.upper()} = {rev} ({sha[:12]})")
        print(f"sf {sf_dir}, warm-up {warm_dir}, {ROUNDS} rounds x {PASSES} passes")
        sys.stdout.flush()
        for r, order in enumerate(round_order(ROUNDS)):
            for side in order:
                save = None
                if r == 0:
                    save = os.path.join(tmp, f"{side}-frames")
                    os.makedirs(save)
                spec = {"queries": queries, "sf_dir": sf_dir, "warm_dir": warm_dir,
                        "save": save, "out": os.path.join(tmp, f"{side}.json")}
                passes = _run_child(trees[side], spec, os.path.join(tmp, f"{side}.log"))
                for q in queries:
                    for i, p in enumerate(passes[q]):
                        print(_pass_line(r, side, q, i, p))
                    totals = [p["construct_s"] + p["exec_s"] for p in passes[q]]
                    times[q][side]["cold"].append(totals[0])
                    times[q][side]["warm"].append(min(totals[1:]))
                sys.stdout.flush()
            if r == 0 and not _check_identity(tmp, queries):
                print("no timing verdict: the revisions return different results")
                return 1
    for q in queries:
        for kind in ("cold", "warm"):
            print(_summary(q, kind, times[q]["a"][kind], times[q]["b"][kind]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
