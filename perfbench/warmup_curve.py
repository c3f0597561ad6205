"""Pass-over-pass curve after the benchmark's warm-up.

    python3 perfbench/warmup_curve.py --workload warehouse_sql --passes 7 --seed 5

Runs the workload's usual warm-up, then ``--passes`` timed passes back to
back in the same process, and prints one line per pass: wall time net of
CPU steal, raw wall time, process-tree CPU and the steal share. It shows
how far the benchmark's single timed pass is from JIT steady state.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["stream_etl", "warehouse_sql", "llm_pipeline"])
    p.add_argument("--passes", type=int, default=7)
    p.add_argument("--seed", type=int, default=5)
    args = p.parse_args(argv)

    from perfbench import run as bench
    from perfbench import workloads as W

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"curve-{os.getpid()}")
    os.makedirs(work)
    bench._configure_env(work, False)
    try:
        spark = bench.setup_sessions(1)[0]
        r = W.Run(spark, work, os.path.join(base, "cache"), args.seed, 0.0, W.Sizes())
        phases = [f"pass{i + 1}" for i in range(args.passes)]
        if args.workload == "stream_etl":
            recs = W.stream_etl(r, None, phases)["phases"]
            summ = {ph: W.stream_summary(recs[ph]) for ph in phases}
        else:
            names = W.mix_names(args.workload)
            table_dir, expected = W.prepare_mix(r, names)
            recs = W.query_mix(r, None, phases, names, table_dir, expected)["phases"]
            summ = {ph: W.mix_summary(recs[ph], names) for ph in phases}
        print(f"warm-up {r.warmup_s:.1f} s, failed ops {r.failed}/{r.attempted}")
        for ph in phases:
            s = summ[ph]
            print(f"{ph}: wall net of steal {s['pass_wall_s']:.2f} s, raw {s['pass_wall_raw_s']:.2f} s, "
                  f"cpu {s['pass_cpu_s']:.2f} s, steal share {s['samples']['steal_share']:.3f}")
    finally:
        if "pyspark" in sys.modules:
            bench._shutdown()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT
    sys.exit(main())
