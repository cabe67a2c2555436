"""Self-test of the benchmark's correctness checks.

Runs each workload once at a tiny size, confirms its check accepts the
output, then feeds the check perturbed copies of that output — one survivor
swapped, one ranking count or feature value changed, one row lost — and
confirms the check rejects every one. Exits 1 if a clean output is
rejected or a perturbed one accepted.

Usage, from the root of a checkout: ``python3 perfbench/selftest.py``
(about two minutes on 4 cores).
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.getcwd()


def _rewrite_first_value(path: str, column: str, fn) -> None:
    """Apply ``fn`` to the first value of ``column`` in the first parquet
    file under ``path`` that has rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        f = os.path.join(path, name)
        t = pq.read_table(f)
        if t.num_rows == 0:
            continue
        values = t.column(column).to_pylist()
        values[0] = fn(values[0])
        idx = t.schema.get_field_index(column)
        pq.write_table(t.set_column(idx, t.schema.field(idx),
                                    pa.array(values, t.schema.field(idx).type)), f)
        return
    raise RuntimeError(f"no rows under {path}")


def _drop_last_row(path: str) -> None:
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(path)):
        f = os.path.join(path, name)
        if name.endswith(".parquet") and pq.read_metadata(f).num_rows:
            t = pq.read_table(f)
            pq.write_table(t.slice(0, t.num_rows - 1), f)
            return
    raise RuntimeError(f"no rows under {path}")


def _screen_perturbations(all_names: list[str]):
    def swap_survivor(ctx, out):
        outsider = next(n for n in all_names if n not in out["survivors"])
        return {**out, "survivors": [outsider, *out["survivors"][1:]]}

    def bump_ranking(ctx, out):
        rnd = os.path.join(out["checkpoint"], "rounds", "round=0000", "importances")
        _rewrite_first_value(rnd, "importance", lambda c: c + 1)
        return out

    def lose_row(ctx, out):
        return {**out, "rows": out["rows"] - 1}

    return [("one survivor swapped", swap_survivor),
            ("one round-1 split count changed", bump_ranking),
            ("one result row lost", lose_row)]


def _backfill_perturbations():
    def change_value(ctx, out):
        _rewrite_first_value(out["path"], "secs_since_tool",
                             lambda v: 1.0 if v is None else v + 1.0)
        return out

    def drop_row(ctx, out):
        _drop_last_row(out["path"])
        return out

    return [("one feature value changed", change_value),
            ("one written row dropped", drop_row)]


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import run
    from perfbench.trace import Untraced
    from perfbench.workloads import (
        BackfillWrite,
        CheckFailed,
        Ctx,
        PipelineScreen,
        ScreenWide,
    )

    if not run._require_checkout():
        return 2

    class TinyPipeline(PipelineScreen):
        n_conversations, n_turns = 100, 1_500

    class TinyWide(ScreenWide):
        n_samples = 6_000

    class TinyBackfill(BackfillWrite):
        n_conversations, n_turns = 100, 1_500

    from featurescreening_jl_spark.operators.window_features import TURN_FEATURE_COLS

    cases = [
        (TinyPipeline(), _screen_perturbations(TURN_FEATURE_COLS), "checkpoint"),
        (TinyWide(), _screen_perturbations(
            [f"x{j:02d}" for j in range(ScreenWide.n_features)]), "checkpoint"),
        (TinyBackfill(), _backfill_perturbations(), "path"),
    ]
    ncpu = os.cpu_count() or 1
    run._prepare_env(ncpu)
    spark = run._session(ncpu)
    bad = []
    try:
        for wl, perturbations, out_key in cases:
            data_dir = wl.data_dir(os.path.join(run.WORK, "selftest"), 7)
            os.makedirs(data_dir, exist_ok=True)
            ctx = Ctx(spark=spark, seed=7, input_path=wl.input_path(data_dir),
                      warm_path=wl.warm_path(data_dir), work_dir=run.WORK,
                      meta=wl.generate(spark, 7, data_dir), pins={})
            run._reset_outputs()
            out = wl.job(ctx, Untraced())
            try:
                print(f"{wl.name}: clean output accepted, digest {wl.check(ctx, out)}")
            except CheckFailed as exc:
                print(f"{wl.name}: clean output REJECTED: {exc}")
                bad.append((wl.name, "clean"))
                continue
            saved = out[out_key] + ".orig"
            shutil.copytree(out[out_key], saved)
            for label, perturb in perturbations:
                try:
                    wl.check(ctx, perturb(ctx, out))
                    print(f"{wl.name}: {label}: ACCEPTED")
                    bad.append((wl.name, label))
                except CheckFailed as exc:
                    print(f"{wl.name}: {label}: rejected ({exc})")
                shutil.rmtree(out[out_key])
                shutil.copytree(saved, out[out_key])
            shutil.rmtree(saved)
    finally:
        run.stop_spark()
    print("selftest:", "FAILED " + repr(bad) if bad else "every check rejects "
          "every perturbed output")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
