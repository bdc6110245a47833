"""CCM benchmark: single-pair latency and fleet throughput on both CCM paths.

Run from the repository root:

    python3 perfbench/run.py --workload pair_plan --seed 1 --seconds 10 --trace 0

Workloads (one closed-loop client; calls run back to back):

  pair_plan   one G2 pair per call through ``CCM(spark, x, y).bidirectional_ccm()``:
              the reference API on the Catalyst plan. One series puts the work
              into few, large (P-L) x L kNN join groups, so J1/K1 dominate.
  fleet_fast  a fleet of G2 pairs read from parquet through
              ``fastpath.ccm_apply_in_pandas`` and collected: the numpy kernel,
              Arrow transfer and ``spread`` partitioning do the work and
              ``operators.knn`` is bypassed, so a kNN change must read
              "no change" here.
  fleet_plan  a smaller fleet read from parquet through
              ``CCM.from_dataframe(df).result_df()`` and collected: the
              pair_plan operators in many small groups, where exchanges and
              per-group overhead outweigh the cross product. BENCHMARK.json
              does not list it (see ``workloads.WORKLOADS``); run it by hand.

Every call collects every output column and is compared with
``ccm_spark.oracle`` (computed untimed after set-up) at the 1e-9 absolute
tolerance of the unit tests, so a plan pruned by Catalyst reads as a failure.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the separate
traced pass of :mod:`tracing` and prints the per-layer metrics. Human-readable
lines come first; the last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; ``failed`` of
``attempted`` is the failed fraction. ``--toy`` shrinks every workload to a
few seconds of work for ``selftest.py``.

Everything a run writes (parquet inputs, Spark local dirs, the event log,
the trace spans) goes under ``.bench_build/perfbench/<workload>`` in the
directory the benchmark is launched from.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

import workloads  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy sizes, for the self-test")
    args = ap.parse_args(argv)

    wl = (workloads.TOY if args.toy else workloads.WORKLOADS)[args.workload]
    n_cores = workloads.cores()
    work = Path.cwd() / ".bench_build" / "perfbench" / wl.name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    workloads.prepare_env(work, n_cores)

    import ccm_spark  # fails here, before any output, outside a checkout

    if not Path(ccm_spark.__file__).resolve().is_relative_to(workloads.ROOT):
        print(f"ccm_spark imported from {ccm_spark.__file__}, not {workloads.ROOT}", file=sys.stderr)
        return 2

    load_start = workloads.loadavg()
    if args.trace:
        import tracing

        out = tracing.traced_run(wl, args.seed, work, n_cores, _T0)
    else:
        out = workloads.timed_run(wl, args.seed, args.seconds, work, n_cores, _T0)
    env = {
        "nproc": n_cores,
        "master": f"local[{n_cores}]",
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": workloads.loadavg(),
        "workload": vars(wl),
        "seed": args.seed,
    }
    print(f"# env {json.dumps(env)}")
    for name, m in {**out["metrics"], **out["info"]}.items():
        n = f" (n={m['n']})" if "n" in m else ""
        print(f"{wl.name} {name} {m['value']:.6g} {m['unit']}{n}")
    client = out["client"]
    result = {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in out["metrics"].items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
