"""The three workloads: seeded inputs, warm-up, the timed job, the checks.

Each workload is used the same way by ``run.py``:

- ``data_dir(root, seed)`` names the seed's data directory, and
  ``input_path``/``warm_path`` the input and warm-up parquet inside it;
- ``generate(spark, seed, data_dir)`` writes them (``run.py`` calls it once
  per seed and workload);
- ``job(ctx, hooks, warm=False)`` is one timed run of the program on that
  input, from the first public call until the result is materialized;
- ``check(ctx, out)`` raises :class:`CheckFailed` unless the job's output
  is right, and returns the output's digest.

``hooks`` is ``trace.Untraced`` for timed runs and ``trace.Tracer`` for the
traced run; the job calls only the package's public functions either way.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow.parquet as pq


class CheckFailed(Exception):
    """A job's output failed the workload's correctness check."""


@dataclass
class Ctx:
    """Everything one benchmark process shares between its jobs."""

    spark: Any
    seed: int
    input_path: str  # the seed's input parquet
    warm_path: str  # the seed's warm-up input parquet
    work_dir: str  # scratch for checkpoints and outputs, emptied per job
    meta: dict  # written by ``generate``: row counts, informative columns
    pins: dict  # pinned digests for this workload, keyed by seed (str)
    cache: dict = field(default_factory=dict)  # per-process check state


def noop_with_count(df) -> int:
    """Materialize ``df`` to the noop sink and return its row count, counted
    in the same pass by an observation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("perfbench_rows")
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


def _digest(obj: Any) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


@contextlib.contextmanager
def _parquet_micros(spark):
    """Write parquet timestamps as microseconds, so DuckDB reads the instants
    Spark wrote."""
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")


def _write_cut(spark, corpus: str, n_turns: int, path: str) -> None:
    """Write the corpus's first ``n_turns`` turns in (conv_id, turn_idx)
    order. The default skew (every 97th conversation 100x longer) makes the
    raw turn count swing with the seed; the cut gives every seed the same row
    count, and the cut conversation keeps a valid prefix of its turns."""
    from pyspark.sql import functions as F

    t = spark.read.parquet(corpus)
    total = 0
    for r in sorted(t.groupBy("conv_id").count().collect()):
        if total + r["count"] >= n_turns:
            cut, keep = r["conv_id"], n_turns - total
            break
        total += r["count"]
    else:
        raise RuntimeError(f"the corpus has {total} < {n_turns} turns")
    with _parquet_micros(spark):
        t.where((F.col("conv_id") < cut)
                | ((F.col("conv_id") == cut) & (F.col("turn_idx") < keep))
                ).write.mode("overwrite").parquet(path)
    rows = spark.read.parquet(path).count()
    if rows != n_turns:
        raise RuntimeError(f"wrote {rows} turns, meant {n_turns}")


def _checkpoint_rounds(root: str) -> tuple[list[list], list[dict]]:
    """Read back every round's ranking and the lineage a RoundCheckpoint
    wrote under ``root``."""
    rounds_dir = os.path.join(root, "rounds")
    rankings = []
    for name in sorted(os.listdir(rounds_dir)):
        t = pq.read_table(os.path.join(rounds_dir, name, "importances"))
        pairs = list(zip(t.column("feature").to_pylist(),
                         t.column("importance").to_pylist()))
        rankings.append(sorted(([f, int(c)] for f, c in pairs),
                               key=lambda p: (-p[1], p[0])))
    lineage_t = pq.read_table(os.path.join(root, "_lineage"))
    lineage = sorted((json.loads(r) for r in lineage_t.column("record").to_pylist()),
                     key=lambda r: r["round"])
    return rankings, lineage


WARM_TURNS = 500  # the warm-up input of the transcript workloads


class _TranscriptInput:
    """A transcript workload's input: the first ``n_turns`` turns of the
    seed's corpus, ``synthetic_transcripts(n_conversations, seed)``. The
    transcript workloads share one corpus per seed, so a seed is
    synthesized once for all of them; since every conversation derives from
    (seed, conversation index) alone, a cut does not depend on how many
    conversations the corpus has beyond it."""

    n_conversations = 5_000
    n_turns: int

    def data_dir(self, root: str, seed: int) -> str:
        return os.path.join(root, f"transcripts-{self.n_conversations}c-seed={seed}")

    @staticmethod
    def _cut_path(data_dir: str, n_turns: int) -> str:
        return os.path.join(data_dir, f"turns={n_turns}")

    def input_path(self, data_dir: str) -> str:
        return self._cut_path(data_dir, self.n_turns)

    def warm_path(self, data_dir: str) -> str:
        return self._cut_path(data_dir, WARM_TURNS)

    def generate(self, spark, seed: int, data_dir: str) -> dict:
        from featurescreening_jl_spark import synthetic_transcripts

        corpus = os.path.join(data_dir, "corpus")
        if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
            with _parquet_micros(spark):
                synthetic_transcripts(spark, self.n_conversations, seed=seed
                                      ).write.mode("overwrite").parquet(corpus)
        # every cut of this corpus at once, so the other workloads find
        # theirs ready
        cuts = {self.n_turns, WARM_TURNS} | {
            w.n_turns for w in WORKLOADS.values()
            if issubclass(w, _TranscriptInput)
            and w.n_conversations == self.n_conversations
        }
        for n in sorted(cuts):
            path = self._cut_path(data_dir, n)
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                _write_cut(spark, corpus, n, path)
        return {"rows": self.n_turns}


class _ScreenWorkload:
    """Shared job shape of the two screening workloads: build a
    FeatureFrame, screen it with a checkpoint, sink the result."""

    n_rounds: int
    screen_args: dict

    def feature_frame(self, ctx: Ctx, path: str):
        raise NotImplementedError

    def job(self, ctx: Ctx, hooks, warm: bool = False) -> dict:
        from featurescreening_jl_spark import screen

        args = dict(self.screen_args)
        reduced = args.pop("reduced_size")
        ckpt_root = os.path.join(ctx.work_dir, "checkpoint")
        partitions, checkpoint = 16, hooks.checkpoint(ckpt_root)
        with hooks.span("job"):
            with hooks.span("plan"):
                ff = self.feature_frame(
                    ctx, ctx.warm_path if warm else ctx.input_path
                )
            if warm:
                # one small round; no checkpoint, whose Python-side
                # createDataFrame writes cost about as much warm as cold
                args["step_size"] = ff.n_features
                args["config"] = {**args["config"], "n_trees": 8}
                partitions, checkpoint = 4, None
            result = screen(
                ff,
                **args,
                **hooks.screen_kwargs(reduced),
                rng=ctx.seed,
                show_progress=False,
                importance_backend="partitioned",
                backend_options={"num_partitions": partitions},
                checkpoint=checkpoint,
            )
            with hooks.span("sink"):
                rows = noop_with_count(result.df)
        return {"survivors": result.names, "rows": rows, "checkpoint": ckpt_root}

    def _check_rounds(self, ctx: Ctx, out: dict) -> str:
        rows = ctx.meta["rows"]
        if out["rows"] != rows:
            raise CheckFailed(f"result has {out['rows']} rows, input has {rows}")
        rankings, lineage = _checkpoint_rounds(out["checkpoint"])
        if [r["round"] for r in lineage] != list(range(self.n_rounds)):
            raise CheckFailed(
                f"lineage rounds {[r['round'] for r in lineage]}, "
                f"expected {self.n_rounds} records"
            )
        if any(r["n_rows"] != rows for r in lineage):
            raise CheckFailed("a lineage record's row count differs from the input")
        if lineage[-1]["features"] != out["survivors"]:
            raise CheckFailed("last lineage record disagrees with the survivors")
        digest = _digest({"rankings": rankings, "survivors": out["survivors"]})
        # a pinned seed is held to its recorded digest; any other seed to
        # the digest of its first job in this process
        expected = ctx.pins.get(str(ctx.seed)) or ctx.cache.setdefault(
            "digest", digest
        )
        if digest != expected:
            raise CheckFailed(f"ranking digest {digest} != expected {expected}")
        return digest


class PipelineScreen(_TranscriptInput, _ScreenWorkload):
    """Transcripts → turn_features → screen → noop sink: the flagship job."""

    name = "pipeline_screen"
    n_turns = 60_000
    n_rounds = 3  # 14 features, step 5
    screen_args = {
        "reduced_size": 4,
        "step_size": 5,
        "config": {"n_trees": 64, "max_depth": 8, "min_samples_leaf": 10,
                   "min_purity_increase": 0.0},
    }

    def featurize(self, ctx: Ctx, path: str):
        """The labelled per-turn feature table the screen consumes — the
        selection ``__spark_entry__._screen_transcripts`` makes."""
        from pyspark.sql import functions as F

        from featurescreening_jl_spark import turn_features
        from featurescreening_jl_spark.operators.window_features import (
            TURN_FEATURE_COLS,
            turn_sample_id,
        )

        t = ctx.spark.read.parquet(path)
        return turn_features(t, keep_text=False).select(
            turn_sample_id().alias("sample_id"),
            F.when(F.col("label_next_is_tool") > 0, "tool")
            .otherwise("no_tool")
            .alias("label"),
            *[F.col(c) for c in TURN_FEATURE_COLS],
        )

    def feature_frame(self, ctx: Ctx, path: str):
        from featurescreening_jl_spark import FeatureFrame
        from featurescreening_jl_spark.operators.window_features import (
            TURN_FEATURE_COLS,
        )

        return FeatureFrame(self.featurize(ctx, path), TURN_FEATURE_COLS)

    def isolated(self, ctx: Ctx) -> dict:
        """Layer outputs the traced run materializes on their own."""
        return {"window_features": self.featurize(ctx, ctx.input_path)}

    def check(self, ctx: Ctx, out: dict) -> str:
        return self._check_rounds(ctx, out)


class ScreenWide(_ScreenWorkload):
    """A wide float matrix with noise columns → screen → noop sink: the
    screening side alone, in the reference's feature-matrix-with-noise
    shape."""

    name = "screen_wide"
    n_samples = 20_000
    warm_samples = 2_000
    n_features = 48
    n_informative = 8
    n_classes = 4
    shift = 1.0  # class-dependent mean shift of an informative column
    n_rounds = 6  # 48 features, step 8
    screen_args = {"reduced_size": 8, "step_size": 8, "config": {"n_trees": 128}}

    def _matrix(self, seed: int, n: int):
        import pandas as pd

        rng = np.random.default_rng(seed)
        names = [f"x{j:02d}" for j in range(self.n_features)]
        informative = sorted(
            int(j) for j in rng.choice(self.n_features, self.n_informative,
                                       replace=False)
        )
        y = rng.permutation(np.arange(n) % self.n_classes)
        X = rng.standard_normal((n, self.n_features))
        for k, j in enumerate(informative):
            X[:, j] += self.shift * (y == k % self.n_classes)
        pdf = pd.DataFrame(X, columns=names)
        pdf.insert(0, "label", [f"class_{v}" for v in y])
        pdf.insert(0, "sample_id", np.arange(n, dtype=np.int64))
        return pdf, [names[j] for j in informative]

    def data_dir(self, root: str, seed: int) -> str:
        return os.path.join(
            root, f"screen_wide-{self.n_samples}x{self.n_features}-seed={seed}"
        )

    def input_path(self, data_dir: str) -> str:
        return os.path.join(data_dir, "input")

    def warm_path(self, data_dir: str) -> str:
        return os.path.join(data_dir, "warm")

    def generate(self, spark, seed: int, data_dir: str) -> dict:
        for sub, n in (("input", self.n_samples), ("warm", self.warm_samples)):
            pdf, informative = self._matrix(seed, n)
            os.makedirs(os.path.join(data_dir, sub), exist_ok=True)
            pdf.to_parquet(os.path.join(data_dir, sub, "part-0.parquet"),
                           index=False)
        return {"rows": self.n_samples, "informative": informative}

    def feature_frame(self, ctx: Ctx, path: str):
        from featurescreening_jl_spark import FeatureFrame

        df = ctx.spark.read.parquet(path)
        return FeatureFrame(df, [c for c in df.columns if c.startswith("x")])

    def isolated(self, ctx: Ctx) -> dict:
        return {}

    def check(self, ctx: Ctx, out: dict) -> str:
        if sorted(out["survivors"]) != ctx.meta["informative"]:
            raise CheckFailed(
                f"survivors {sorted(out['survivors'])} are not the informative "
                f"columns {ctx.meta['informative']}"
            )
        return self._check_rounds(ctx, out)


# the columns the written backfill table carries, all covered by an oracle
BACKFILL_FEATURES = [
    "session_id", "time_since_prev", "lag1_text_len", "session_turn_idx",
    "session_elapsed", "cum_tool_calls", "tool_calls_last_k",
    "avg_text_len_last_k", "label_next_is_tool", "secs_since_tool",
]


class BackfillWrite(_TranscriptInput):
    """Transcripts → turn_features → as-of backfill of the latest tool turn
    → FeatureFrame.save: the featurization side alone, with a write."""

    name = "backfill_write"
    n_turns = 200_000

    @staticmethod
    def _tool_turns(t):
        from pyspark.sql import functions as F

        return t.where(F.col("tool").isNotNull()).select(
            "conv_id", "ts", F.col("tool").alias("last_tool"),
            F.col("ts").alias("last_tool_ts"),
        )

    def job(self, ctx: Ctx, hooks, warm: bool = False) -> dict:
        from pyspark.sql import functions as F

        from featurescreening_jl_spark import FeatureFrame, asof_join, turn_features
        from featurescreening_jl_spark.functions.time import epoch_seconds
        from featurescreening_jl_spark.operators.window_features import turn_sample_id

        out_path = os.path.join(ctx.work_dir, "backfill")
        with hooks.span("job"):
            with hooks.span("plan"):
                t = ctx.spark.read.parquet(ctx.warm_path if warm else ctx.input_path)
                joined = asof_join(
                    turn_features(t), self._tool_turns(t), on="ts", by="conv_id",
                    value_cols=["last_tool", "last_tool_ts"], strategy="window",
                ).withColumn(
                    "secs_since_tool",
                    (epoch_seconds(F.col("ts"))
                     - epoch_seconds(F.col("last_tool_ts"))).cast("double"),
                )
                ff = FeatureFrame(
                    joined.select(turn_sample_id().alias("sample_id"), "last_tool",
                                  *BACKFILL_FEATURES),
                    BACKFILL_FEATURES,
                    label_col="last_tool",
                )
            with hooks.span("save"):
                ff.save(out_path)
        return {"path": out_path}

    def isolated(self, ctx: Ctx) -> dict:
        from featurescreening_jl_spark import asof_join, turn_features

        t = ctx.spark.read.parquet(ctx.input_path)
        return {
            "window_features": turn_features(t),
            "asof_join": asof_join(
                t.select("conv_id", "ts", "turn_idx"), self._tool_turns(t),
                on="ts", by="conv_id", value_cols=["last_tool", "last_tool_ts"],
                strategy="window",
            ),
        }

    # -- check: DuckDB value-hash against the repo's own oracle SQL ----------

    @staticmethod
    def _value_hash(con, relation_sql: str) -> tuple[int, int]:
        cols = ", ".join(
            ["sample_id", "last_tool"]
            + [f"round({c}::DOUBLE, 4)" for c in BACKFILL_FEATURES]
        )
        n, h = con.sql(
            f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM ({relation_sql})"
        ).fetchone()
        return int(n), int(h or 0)

    def oracle_sql(self, input_glob: str) -> str:
        """The expected table, built from ``__spark_entry__.oracle_sql()``'s
        ``transcripts_turn_features`` and ``transcripts_asof_backfill``
        with the derived-transcripts CTE swapped for the benchmark input."""
        import __spark_entry__ as entry

        src = f"SELECT * FROM read_parquet('{input_glob}')"
        oracles = entry.oracle_sql()
        parts = {}
        for name in ("transcripts_turn_features", "transcripts_asof_backfill"):
            sql = oracles[name]
            if entry._TRANSCRIPTS_SQL not in sql:
                raise RuntimeError(f"oracle {name} no longer reads _TRANSCRIPTS_SQL")
            parts[name] = sql.replace(entry._TRANSCRIPTS_SQL, src)
        feats = ", ".join(f"f.{c}" for c in BACKFILL_FEATURES[:-1])
        return f"""
            WITH f AS ({parts['transcripts_turn_features']}),
                 a AS ({parts['transcripts_asof_backfill']}),
                 t AS ({src}),
                 g AS (
                   SELECT q.conv_id, q.turn_idx,
                          (floor(epoch(q.ts)) - floor(epoch(s.ts)))::DOUBLE
                              AS secs_since_tool
                   FROM t q ASOF LEFT JOIN
                        (SELECT conv_id, ts FROM t WHERE tool IS NOT NULL) s
                   ON q.conv_id = s.conv_id AND q.ts >= s.ts
                 )
            SELECT ('0x' || substr(md5(f.conv_id || ':' || f.turn_idx::VARCHAR),
                                   1, 15))::BIGINT AS sample_id,
                   a.last_tool, {feats}, g.secs_since_tool
            FROM f JOIN a USING (conv_id, turn_idx)
                   JOIN g USING (conv_id, turn_idx)
        """

    def _duck(self, ctx: Ctx):
        import duckdb

        if "duck" not in ctx.cache:
            tmp = os.path.join(ctx.work_dir, "duckdb_tmp")
            ctx.cache["duck"] = duckdb.connect(config={"temp_directory": tmp})
        return ctx.cache["duck"]

    def expected_hash(self, ctx: Ctx) -> tuple[int, int]:
        if "expected" not in ctx.cache:
            glob = os.path.join(ctx.input_path, "*.parquet")
            ctx.cache["expected"] = self._value_hash(
                self._duck(ctx), self.oracle_sql(glob)
            )
        return ctx.cache["expected"]

    def written_hash(self, ctx: Ctx, path: str) -> tuple[int, int]:
        glob = os.path.join(path, "*.parquet")
        return self._value_hash(self._duck(ctx), f"SELECT * FROM read_parquet('{glob}')")

    def check(self, ctx: Ctx, out: dict) -> str:
        got = self.written_hash(ctx, out["path"])
        want = self.expected_hash(ctx)
        if got[0] != ctx.meta["rows"]:
            raise CheckFailed(f"wrote {got[0]} rows, input has {ctx.meta['rows']}")
        if got != want:
            raise CheckFailed(f"written table hash {got} != oracle {want}")
        return f"{got[1] & 0xFFFFFFFFFFFFFFFF:016x}"


WORKLOADS = {w.name: w for w in (PipelineScreen, ScreenWide, BackfillWrite)}


def load_pins(path: str, workload: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh).get(workload, {})
