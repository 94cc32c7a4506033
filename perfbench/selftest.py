"""Shows the correctness gate is not vacuous.

    python3 perfbench/selftest.py

On a tiny seeded input, runs the batch-large measurement twice: once as
is, where every operation must pass, and once with one edge of each
build's output corrupted (its stoichiometry incremented) before the check,
where every operation must be counted failed.  Exits 0 only if the error rate is 0 for the clean
run and 1 for the corrupted one.
"""

from __future__ import annotations

import os
import shutil
import sys

import run

sys.path[:0] = [run.ROOT, run.HERE]

from workloads import BatchLarge  # noqa: E402


class Tiny(BatchLarge):
    name = "selftest"
    inputs = {"convs": 60, "entities": 120}


class Corrupted(Tiny):
    def check_edges(self, edges_pdf) -> bool:
        edges_pdf.loc[0, "stoichiometry"] += 1
        return super().check_edges(edges_pdf)


def error_rate(cls, spark) -> float:
    wl = cls(os.path.join(run.WORK, "inputs"), os.path.join(run.WORK, f"run-{os.getpid()}"), 7)
    wl.open(spark)
    counter = run.Counter(wl)
    run.measure(wl, counter, 0)
    shutil.rmtree(wl.work, ignore_errors=True)
    print(f"{cls.__name__}: attempted={counter.attempted} failed={counter.failed} "
          f"failures={wl.failures[:1]}")
    return counter.failed / counter.attempted


def main() -> int:
    run.prepare_env()
    spark, _ = run.start_session()
    try:
        clean = error_rate(Tiny, spark)
        corrupted = error_rate(Corrupted, spark)
    finally:
        run.stop_session(spark)
    ok = clean == 0 and corrupted == 1
    print(f"error_rate clean={clean} corrupted={corrupted}: {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
