"""Record the ranking digests ``pipeline_screen`` is held to, one per seed.

The partitioned importance backend is deterministic at any core count, so
a seed's survivors and per-round rankings are a fixed function of the
program. ``run.py`` fails a job whose digest differs from the pin of its
seed; a seed without a pin is held to the digest of its first job in the
run. Re-pin only when a change is meant to alter rankings, and say so.

Usage, from the root of a checkout::

    python3 perfbench/pin.py FIRST_SEED LAST_SEED

merges the digests of seeds FIRST..LAST into perfbench/pins.json.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.getcwd()


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import run
    from perfbench.trace import Untraced
    from perfbench.workloads import Ctx, PipelineScreen, load_pins

    if len(argv) != 2 or not run._require_checkout():
        print(__doc__, file=sys.stderr)
        return 2
    first, last = int(argv[0]), int(argv[1])
    wl = PipelineScreen()
    ncpu = os.cpu_count() or 1
    run._prepare_env(ncpu)
    pins = load_pins(run.PINS, wl.name)
    for seed in range(first, last + 1):
        data_dir, meta = run.ensure_inputs(ncpu, wl, seed)
        ctx = Ctx(spark=run._session(ncpu), seed=seed,
                  input_path=wl.input_path(data_dir),
                  warm_path=wl.warm_path(data_dir), work_dir=run.WORK,
                  meta=meta, pins={})
        try:
            run._reset_outputs()
            pins[str(seed)] = wl.check(ctx, wl.job(ctx, Untraced()))
        finally:
            ctx.spark.stop()
        run.log(f"seed {seed}: {pins[str(seed)]}")
    allpins = {}
    if os.path.exists(run.PINS):
        with open(run.PINS) as fh:
            allpins = json.load(fh)
    allpins[wl.name] = dict(sorted(pins.items(), key=lambda kv: int(kv[0])))
    with open(run.PINS, "w") as fh:
        json.dump(allpins, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
