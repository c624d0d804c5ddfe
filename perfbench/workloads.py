"""The benchmark workloads: inputs, one job, the output check and the
traced layer breakdown of each.

A workload's ``job`` builds its DataFrames (plan building, which includes
any ``auto`` sizing actions) and then forces them; it returns the plan
building time and the wall time of each named part. ``layers`` lists
prefixes of the job whose marginal times split it by layer.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

import inputs


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read(spark, path: str):
    from mpower_feature_analysis_spark.sources import read_table

    return read_table(spark, path)


class TurnFeatures:
    """Batch feature build: the flagship turn-feature plan plus the
    windowed Arrow summary kernel over a zipf-skewed transcript table."""

    name = "turn_features"

    def __init__(self, cfg: dict, seed: int):
        self.cfg, self.seed = cfg, seed

    def stage(self, root: str, files: int) -> None:
        t = inputs.transcripts(self.cfg["turns"], self.cfg["convs"], self.seed)
        inputs.write(t, inputs.TURNS_SCHEMA, os.path.join(root, "turns"), files)
        self.convs = sorted(t["conv_id"].unique())
        inputs.write(inputs.states(t, self.seed), inputs.STATES_SCHEMA,
                     os.path.join(root, "states"), files)
        self.root = root

    def read(self, spark):
        return (_read(spark, os.path.join(self.root, "turns")),
                _read(spark, os.path.join(self.root, "states")))

    def job(self, spark) -> dict:
        from mpower_feature_analysis_spark.operators import windowed_summary_features
        from mpower_feature_analysis_spark.plans.pipeline import extract_turn_features

        t0 = time.perf_counter()
        turns, states = self.read(spark)
        dfs = [extract_turn_features(turns, states), windowed_summary_features(turns)]
        build = time.perf_counter() - t0
        self.force(dfs)
        return {"build_s": build, "parts": {}}

    def layers(self, spark):
        """Prefixes of the job's public calls, in order, each with the
        layer metric its marginal time feeds."""
        from mpower_feature_analysis_spark.operators import (
            asof_join, dedup_last_wins, windowed_summary_features)
        from mpower_feature_analysis_spark.plans.pipeline import extract_turn_features

        def scan():
            turns, states = self.read(spark)
            return [turns, states]

        def dedup():
            turns, states = self.read(spark)
            return [dedup_last_wins(turns, ["conv_id", "turn_idx"], ["ts"],
                                    partition_by=["conv_id"]), states]

        def asof():
            turns, states = self.read(spark)
            d = dedup_last_wins(turns, ["conv_id", "turn_idx"], ["ts"],
                                partition_by=["conv_id"])
            return [asof_join(d, states, payload=["label"])]

        def stack():
            return [extract_turn_features(*self.read(spark))]

        def kernel():
            turns, states = self.read(spark)
            return [extract_turn_features(turns, states), windowed_summary_features(turns)]

        return [("sources.scan_s", scan), ("operators.dedup_s", dedup),
                ("operators.asof_s", asof), ("plans.window_stack_s", stack),
                ("operators.kernel_s", kernel)]

    @staticmethod
    def trace_metrics(build_s: float) -> dict:
        return {"plans.plan_build_s": build_s}

    @staticmethod
    def force(dfs) -> None:
        for df in dfs:
            _noop(df)

    def check(self, spark) -> tuple[bool, dict]:
        """A seeded slice of conversations against the pandas oracle, with
        zero leaked labels in it."""
        from mpower_feature_analysis_spark import oracle
        from mpower_feature_analysis_spark.operators import windowed_summary_features
        from mpower_feature_analysis_spark.plans.pipeline import (
            PipelineConfig, extract_turn_features)

        turns, states = self.read(spark)
        # the hottest conversation plus a seeded sample of the others
        rng = np.random.default_rng(self.seed + 9)
        pick = [self.convs[0]] + list(rng.choice(
            self.convs[1:], self.cfg["check_convs"] - 1, replace=False))
        tp = turns.filter(F.col("conv_id").isin(pick))
        sp = states.filter(F.col("conv_id").isin(pick))
        cfg = PipelineConfig()
        got = (extract_turn_features(tp, sp, cfg).orderBy("conv_id", "turn_idx")
               .toPandas())
        leaked = int((got["label"] == "label_future").sum())
        tpd, spd = tp.toPandas(), sp.toPandas()
        want = oracle.dedup_last_wins(tpd)
        want = oracle.asof_labels(want, spd)
        want = oracle.rolling_gap_stats(want, cfg.rolling_k)
        want = oracle.running_role_counts(want, list(cfg.roles))
        want = oracle.forward_fill(want)
        want = oracle.sessionize(want, cfg.session_gap_s)
        ok = len(got) == len(want) and leaked == 0
        if ok:
            ok = (list(got["text"]) == list(want["text"])
                  and list(got["label"].fillna("")) == list(want["label"].fillna(""))
                  and list(got["tool_ffill"].fillna("")) == list(want["tool_ffill"].fillna(""))
                  and np.array_equal(got["session_id"].to_numpy(), want["session_id"].to_numpy())
                  and np.allclose(got["gap_roll_mean"].to_numpy("float64"),
                                  want["gap_roll_mean"].to_numpy("float64"),
                                  rtol=1e-12, equal_nan=True)
                  and all(np.array_equal(got[f"n_{r}_so_far"].to_numpy(),
                                         want[f"n_{r}_so_far"].to_numpy())
                          for r in cfg.roles))
        key = ["conv_id", "window_idx"]
        wgot = windowed_summary_features(tp).orderBy(*key).toPandas()
        wwant = oracle.window_features(tpd).sort_values(key, kind="mergesort")
        ok = ok and len(wgot) == len(wwant) and all(
            np.allclose(wgot[c].to_numpy("float64"), wwant[c].to_numpy("float64"),
                        rtol=1e-9, equal_nan=True)
            for c in ["window_idx", "n", "start_turn_idx", "end_turn_idx",
                      "mean_gap_ms", "median_gap_ms", "iqr_gap_ms", "entropy_gap"])
        return bool(ok), {"leaked_labels": leaked, "slice_convs": len(pick),
                          "slice_rows": len(got)}


class CorpusDedup:
    """Near-duplicate detection over a doc corpus with planted duplicate
    groups and one boilerplate hot bucket, plus an embedding corpus with
    planted near-duplicates."""

    name = "corpus_dedup"

    def __init__(self, cfg: dict, seed: int):
        self.cfg, self.seed = cfg, seed
        self.outputs: dict = {}

    def stage(self, root: str, files: int) -> None:
        inputs.write(inputs.docs(self.cfg["docs"], self.seed), inputs.DOCS_SCHEMA,
                     os.path.join(root, "docs"), files)
        inputs.write(inputs.embeddings(self.cfg["vecs"], self.seed, self.cfg["dims"]),
                     inputs.EMB_SCHEMA, os.path.join(root, "emb"), files)
        self.root = root

    def _calls(self, spark):
        from mpower_feature_analysis_spark.functions import (
            embedding_near_dup_pairs, exact_text_dedup, minhash_lsh_candidates,
            simhash_near_dups)

        c = self.cfg
        docs = _read(spark, os.path.join(self.root, "docs"))
        emb = _read(spark, os.path.join(self.root, "emb"))
        cap = c["max_bucket_size"]
        return {
            "exact_dedup": lambda: exact_text_dedup(docs).select("doc_id"),
            "minhash": lambda: minhash_lsh_candidates(
                docs, num_hashes=32, bands=8, max_bucket_size=cap),
            "simhash": lambda: simhash_near_dups(
                docs, max_hamming=3, blocks="auto", max_bucket_size=cap),
            "embedding_dup": lambda: embedding_near_dup_pairs(
                emb, min_cos=0.95, bits="auto", dims=c["dims"], scorer="arrow",
                max_bucket_size=c["emb_max_bucket_size"]),
        }

    @staticmethod
    def layers(spark) -> list:
        """None: the families are independent, so the job's own per-family
        times are the layer split."""
        return []

    def job(self, spark) -> dict:
        """Run each family and keep its output rows for the check."""
        build, parts = 0.0, {}
        for name, call in self._calls(spark).items():
            t0 = time.perf_counter()
            df = call()
            t1 = time.perf_counter()
            self.outputs[name] = df.collect()
            build += t1 - t0
            parts[f"functions.{name}_s"] = time.perf_counter() - t0
        return {"build_s": build, "parts": parts}

    def check(self, spark) -> tuple[bool, dict]:
        """Every planted exact duplicate is found by every family."""
        per = self.recall()
        found = sum(f for f, _ in per.values())
        planted = sum(p for _, p in per.values())
        return found == planted, {"found/planted": per}

    def recall(self) -> dict[str, tuple[int, int]]:
        """(found, planted) pairs per family."""
        n_docs, n_vecs = self.cfg["docs"], self.cfg["vecs"]
        want = {
            "exact_dedup": inputs.planted_pairs(n_docs),
            "minhash": inputs.planted_pairs(n_docs),
            "simhash": inputs.planted_pairs(n_docs),
            "embedding_dup": inputs.planted_pairs(n_vecs),
        }
        out = {}
        for name, pairs in want.items():
            rows = self.outputs[name]
            if name == "exact_dedup":
                kept = {r[0] for r in rows}
                # a copy is found when it is dropped and its root survives
                got = {(a, b) for a, b in pairs if b not in kept and a in kept}
            else:
                got = {(min(r[0], r[1]), max(r[0], r[1])) for r in rows} & pairs
            out[name] = (len(got), len(pairs))
        return out

    def trace_metrics(self, build_s: float) -> dict:
        per = self.recall().values()
        return {
            "functions.plan_build_s": build_s,
            "functions.pairs_out": sum(
                len(v) for k, v in self.outputs.items() if k != "exact_dedup"),
            "functions.planted_recall": sum(f for f, _ in per) / sum(p for _, p in per),
        }


WORKLOADS = {w.name: w for w in (TurnFeatures, CorpusDedup)}
