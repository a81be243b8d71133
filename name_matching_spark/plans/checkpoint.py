"""Checkpoint-resumable execution over blocking-key partition ranges.

North-rule operational requirement (absent from the reference): process the
key space in R hash ranges; after each range, write its results plus a
lineage manifest (range id, counters, config fingerprint). On restart, ranges
with a manifest are skipped — resume = anti-join over completed ranges.

Each range is an independent Spark job whose input is pruned by a cheap
``pmod(xxhash64(block_key), R) = i`` predicate, so a failure loses at most
one range of work. Counters per range reproduce the reference's blocking
stats idea (``blocking_implementation.py:99-113``) as per-partition lineage.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from name_matching_spark.operators.blocking import BlockingConfig, blocking_key_column, candidate_pairs_self
from name_matching_spark.operators.normalize import LinkageSchema
from name_matching_spark.operators.score_pairs import (
    MatcherConfig,
    score_pairs,
    scoring_struct_cols,
)
from name_matching_spark.plans.linkage import (
    _build_class_encoding,
    prepare_linkage_frame,
    validate_linkage_config,
)

__all__ = ["CheckpointedLinkage"]


class CheckpointedLinkage:
    """Resumable self-linkage writer.

    Layout under ``output_dir``::

        matches/range=<i>/*.parquet     per-range results
        _manifest/range_<i>.json        lineage + counters, written LAST
    """

    def __init__(
        self,
        output_dir: str,
        num_ranges: int = 16,
        schema: LinkageSchema | None = None,
        blocking: BlockingConfig | None = None,
        matcher: MatcherConfig | None = None,
        dict_encode: bool | None = None,
        dict_max_classes: int = 65536,
    ):
        self.output_dir = output_dir
        self.num_ranges = num_ranges
        self.schema = schema or LinkageSchema()
        self.blocking = blocking or BlockingConfig()
        self.matcher = matcher or MatcherConfig()
        # dictionary-encoded scoring (see plans.linkage): built ONCE over
        # the full corpus, reused by every range job. Deliberately NOT part
        # of the config fingerprint — results are bit-identical either way,
        # so resume across a knob change is safe.
        self.dict_encode = dict_encode
        self.dict_max_classes = dict_max_classes
        os.makedirs(os.path.join(output_dir, "_manifest"), exist_ok=True)

    # -- manifest -----------------------------------------------------------
    def _manifest_path(self, i: int) -> str:
        return os.path.join(self.output_dir, "_manifest", f"range_{i}.json")

    def completed_ranges(self) -> set[int]:
        """Ranges with a complete manifest MATCHING the current config.

        A manifest written under a different configuration (thresholds,
        blocking passes, num_ranges, ...) must not be silently reused — the
        range->key mapping or scores would differ — so a fingerprint
        mismatch raises instead of mixing results.
        """
        out = set()
        fingerprint = self._config_fingerprint()
        mdir = os.path.join(self.output_dir, "_manifest")
        for name in os.listdir(mdir):
            if name.startswith("range_") and name.endswith(".json"):
                try:
                    with open(os.path.join(mdir, name)) as f:
                        m = json.load(f)
                except (ValueError, json.JSONDecodeError):
                    continue
                if m.get("status") != "complete":
                    continue
                if m.get("config") != fingerprint:
                    raise ValueError(
                        f"checkpoint manifest {name} was written under a "
                        "different configuration; use a fresh output_dir or "
                        "delete the stale manifests to recompute"
                    )
                out.add(int(m["range"]))
        return out

    def _config_fingerprint(self) -> dict:
        return {
            "num_ranges": self.num_ranges,
            "blocking": asdict(self.blocking),
            "matcher": {
                "base_similarity": self.matcher.base_similarity,
                "name_weights": self.matcher.name_weights,
                "additional_weights": self.matcher.additional_weights,
                "match_threshold": self.matcher.match_threshold,
                "non_match_threshold": self.matcher.non_match_threshold,
                "use_birthdate": self.matcher.use_birthdate,
                "geo_fields": self.matcher.geo_fields,
            },
        }

    # -- execution ----------------------------------------------------------
    def run(self, df: DataFrame, keep_non_match: bool = False) -> list[int]:
        """Process all incomplete ranges; returns the ranges executed now.

        The manifests are read first: a resume with nothing left to do
        returns before any plan is built, so it launches no Spark job.
        """
        validate_linkage_config(self.schema, self.matcher)
        done = self.completed_ranges()
        todo = [i for i in range(self.num_ranges) if i not in done]
        if not todo:
            return []

        # normalize once: the dictionary probe and every range read this
        # frame (per-range jobs only differ in the range predicate, pushed
        # below the pair join)
        normalized = prepare_linkage_frame(df, self.schema, self.matcher).persist()
        try:
            work = normalized
            payload_cols = scoring_struct_cols(self.matcher)
            class_dict = None
            if self.dict_encode is None or self.dict_encode:
                enc = _build_class_encoding(
                    [work], self.matcher, self.dict_max_classes,
                    required=bool(self.dict_encode),
                )
                if enc is not None:
                    (work,), class_dict = enc
                    payload_cols = ["class_id"] + (
                        ["birthdate_std"] if self.matcher.use_birthdate else []
                    )
            for i in todo:
                self._run_range(work, payload_cols, i, keep_non_match, class_dict)
            return todo
        finally:
            normalized.unpersist()

    def _run_range(
        self,
        work: DataFrame,
        payload_cols: list[str],
        i: int,
        keep_non_match: bool,
        class_dict: dict | None = None,
    ) -> None:
        range_frames = []
        for p in self.blocking.passes:
            keyed = work.withColumn("block_key", blocking_key_column(p))
            keyed = keyed.filter(
                F.pmod(F.xxhash64(F.col("block_key")), F.lit(self.num_ranges)) == i
            )
            range_frames.append(
                candidate_pairs_self(keyed, payload_cols, cap=self.blocking.hot_block_cap)
            )
        pairs = range_frames[0]
        for f in range_frames[1:]:
            pairs = pairs.unionByName(f)
        if len(range_frames) > 1:
            pairs = pairs.dropDuplicates(["id1", "id2"])

        results = score_pairs(pairs, self.matcher, class_dict=class_dict)
        if not keep_non_match:
            results = results.filter(F.col("classification") != "non_match")

        out_path = os.path.join(self.output_dir, "matches", f"range={i}")
        results.write.mode("overwrite").parquet(out_path)

        # counters from the written snapshot (cheap local re-read) — the
        # manifest is written LAST so a crash mid-write leaves the range
        # incomplete and it reruns idempotently (overwrite mode)
        spark = SparkSession.getActiveSession()
        written = spark.read.parquet(out_path)
        by_class = {
            r["classification"]: r["count"]
            for r in written.groupBy("classification").count().collect()
        }
        counters = {
            "rows_written": sum(by_class.values()),
            "by_classification": by_class,
        }
        manifest = {
            "range": i,
            "status": "complete",
            "counters": counters,
            "config": self._config_fingerprint(),
        }
        tmp = self._manifest_path(i) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path(i))

    def results(self, spark: SparkSession) -> DataFrame:
        """All written ranges. With multiple blocking passes, a pair can be
        generated in two different ranges (one per pass key), so enforce the
        pair-uniqueness constraint globally here."""
        df = spark.read.parquet(os.path.join(self.output_dir, "matches"))
        if len(self.blocking.passes) > 1:
            df = df.dropDuplicates(["id1", "id2"])
        return df
