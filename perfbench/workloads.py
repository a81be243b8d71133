"""The benchmark's workloads: seeded input generators, the timed pipeline
of each (input read -> sinks written, the way a user runs it), the traffic
census, and the output checks.

Every workload writes its generated input as parquet before timing starts;
the timed pipeline reads it back through ``sources.readers.read_table``
and ends when its last sink is written. Checks and census run outside the
timed region and use only public functions of the package.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from name_matching_spark.datagen import labeled_pairs, person_records
from name_matching_spark.operators.blocking import (
    BlockingConfig,
    block_census,
    blocking_key_column,
    blocking_stats,
    candidate_pairs_self,
)
from name_matching_spark.operators.clustering import assign_clusters
from name_matching_spark.operators.dedup import minhash_lsh_pairs, shingle_jaccard_rerank
from name_matching_spark.operators.evaluation import pairwise_metrics
from name_matching_spark.operators.normalize import LinkageSchema
from name_matching_spark.operators.score_pairs import MatcherConfig
from name_matching_spark.plans.checkpoint import CheckpointedLinkage
from name_matching_spark.plans.linkage import dedup_table, prepare_linkage_frame
from name_matching_spark.sources.readers import read_table

# The program picks dictionary-encoded scoring when the corpus has at most
# ``dict_max_classes`` distinct scoring payloads, else the direct struct
# UDF. The library default (65536) only separates corpora of ~100k rows,
# which do not fit a run on a 4-core host; the benchmark scales the cap
# down with its inputs so that the repetitive person table stays on the
# dictionary side and the diverse repo table goes over it, as at full size.
DICT_MAX_CLASSES = 2048
PERSON_SCHEMA = LinkageSchema(id_col="record_id")
REPO_SCHEMA = LinkageSchema(id_col="record_id", birthdate=None, geo_fields=["province_name"])
REPO_MATCHER = MatcherConfig(
    use_birthdate=False, geo_fields=["province_name"], additional_weights={"geography": 0.3}
)
# Salting splits blocks over ``hot_block_cap`` rows; scaled down with the
# inputs (library default 1000) so the person table's hot-surname blocks
# are salted. Salting changes the plan, not the candidate pairs.
BLOCKING = BlockingConfig(hot_block_cap=32)
DOC_THRESHOLD = 0.5
# share of the repos whose files make up the near-duplicate corpus; the
# dedup stage's jobs cost about the same at any size, so a third keeps
# the run inside the benchmark's per-run time
DOC_SHARE = 0.3

# (full, smoke) sizes
SIZES = {
    "person_dedup": {"full": 1200, "smoke": 60},
    "repo_link_diverse": {"full": 2500, "smoke": 150},
}
# One key range: each range is a full blocking + scoring job (about 11 s
# warm on a 4-vCPU VM, little less at smaller inputs), and a run has to
# fit the benchmark's per-run time. One range still writes its sink and manifest, and the
# resume still reads the manifest back.
CHECKPOINT_RANGES = 1


def value_hash(df) -> list:
    """Order-independent hash of every column of every row, plus the row
    count. Hashing all columns keeps the optimizer from pruning any of
    them."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return [int(row["n"]), str(row["h"])]


def _write(pdf: pd.DataFrame, path: str) -> str:
    pdf.to_parquet(path, index=False)
    return path


def _truth(spark, ids: pd.DataFrame, seed: int):
    return spark.createDataFrame(labeled_pairs(ids, seed=seed))


def _f1(scored, truth, **kw) -> float:
    return float(pairwise_metrics(scored, truth, **kw)["f1"])


# -- input generators ------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "vo", "ze", "pu", "ha", "jo",
        "be", "di", "fu", "go", "xa", "wy", "qi", "co"]
# repo names; one soundex code each, so a block is (owner initial, name)
_NAME_WORDS = ["parser", "merge", "graph"]
_STEMS = ["parse", "index", "merge", "scan", "hash", "join", "sort", "util",
          "core", "codec", "net", "io"]
_LANGS = ["py", "js", "go", "rs", "java", "c", "cpp", "rb", "kt", "ts"]


def _typo(rng: np.random.Generator, s: str) -> str:
    i = int(rng.integers(1, len(s) - 1))
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return s[:i] + s[i + 1] + s[i] + s[i + 2:]
    if kind == 1:
        return s[:i] + s[i + 1:]
    return s[:i] + "x" + s[i + 1:]


def repo_rows(n_repos: int, seed: int) -> pd.DataFrame:
    """Source-repo rows (repo, path, commit, lang, content) + entity_id.

    Owners are drawn from a wide syllable vocabulary, so almost every
    row's scoring payload is distinct. About a third of the repos have a
    mirror under a typo'd owner with the same path and content."""
    rng = np.random.default_rng(seed)
    rows = []
    for e in range(n_repos):
        owner = "".join(_SYL[int(i)] for i in rng.integers(0, len(_SYL), 6))
        owner += str(int(rng.integers(0, 100)))
        name = _NAME_WORDS[int(rng.integers(0, len(_NAME_WORDS)))]
        lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
        path = f"src/{_STEMS[int(rng.integers(0, len(_STEMS)))]}_{e % 7}.{lang}"
        body = " ".join(_STEMS[int(i)] for i in rng.integers(0, len(_STEMS), 20))
        owners = [owner] + ([_typo(rng, owner)] if rng.random() < 0.35 else [])
        for o in owners:
            repo = f"{o}/{name}"
            rows.append({
                "repo": repo, "path": path,
                "commit": hashlib.sha1(f"{repo}:{path}:{seed}".encode()).hexdigest()[:12],
                "lang": lang, "content": f"// {repo}:{path}\n{body}", "entity_id": e,
            })
    return pd.DataFrame(rows).drop_duplicates(["repo", "path"])


def repo_as_person(df):
    """Field derivation from the repo shape to the linkage record shape:
    owner -> first name, path stem + repo name -> middle/last, lang -> geo."""
    return df.select(
        F.concat_ws("|", "repo", "path").alias("record_id"),
        F.split_part(F.col("repo"), F.lit("/"), F.lit(1)).alias("first_name"),
        F.concat_ws(
            " ",
            F.regexp_extract(F.col("path"), r"([A-Za-z]+)_\d", 1),
            F.regexp_replace(F.split_part(F.col("repo"), F.lit("/"), F.lit(2)), "-", " "),
        ).alias("middle_name_last_name"),
        F.col("lang").alias("province_name"),
    )


# -- workloads -------------------------------------------------------------


class Workload:
    name = ""
    why = ""

    def __init__(self, seed: int, scale: str, inputs_dir: str):
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.inputs_dir = inputs_dir

    def generate(self) -> None:
        raise NotImplementedError

    def run(self, spark, out: str, tr) -> None:
        raise NotImplementedError

    def census(self, spark) -> dict:
        raise NotImplementedError

    def check(self, spark, out: str, first: bool) -> dict:
        raise NotImplementedError

    def parity(self, spark, out: str) -> bool | None:
        """Sink round-trip parity, for workloads that write through a
        checkpoint; None elsewhere."""
        return None

    def truth(self, spark):
        return _truth(spark, self.ids, self.seed)


class _PersonLike(Workload):
    """Shared census for the two linkage workloads on person-shaped rows."""

    schema = PERSON_SCHEMA
    matcher = MatcherConfig()

    def linkage_input(self, spark):
        return read_table(spark, self.input_path)

    def census(self, spark) -> dict:
        # only traced runs take the census; timed runs take their
        # candidate-pair count from the sink, which holds every scored pair
        # (keep_non_match=True)
        work = prepare_linkage_frame(self.linkage_input(spark), self.schema, self.matcher)
        work = work.localCheckpoint()
        keyed = work.withColumn("block_key", blocking_key_column(BLOCKING.passes[0]))
        blocks = block_census(keyed).toPandas()
        stats = blocking_stats(spark.createDataFrame(blocks))
        payload = ["first_std", "middle_std", "last_std"] + [
            f"geo{i}" for i in range(len(self.matcher.geo_fields))]
        records = int(blocks["count"].sum())
        distinct = work.select(*payload).distinct().count()
        out = {
            "records": records,
            "distinct_payloads": distinct,
            "distinct_payload_share": distinct / records,
            "candidate_pairs": int(stats["comparisons_executed"]),
            "blocks": int(stats["blocks_created"]),
            "largest_block": int(blocks["count"].max()),
            "hot_blocks": int((blocks["count"] > BLOCKING.hot_block_cap).sum()),
            "dict_max_classes": DICT_MAX_CLASSES,
        }
        pairs = candidate_pairs_self(keyed, payload, cap=BLOCKING.hot_block_cap)
        out["distinct_class_pairs"] = pairs.select("s1", "s2").distinct().count()
        return out


class PersonDedup(_PersonLike):
    name = "person_dedup"
    why = ("skewed repetitive person table: dictionary scoring path, "
           "plan-build eager jobs, salted hot blocks and clustering dominate")

    def generate(self) -> None:
        recs = person_records(n_entities=self.size, dup_rate=0.5, seed=self.seed)
        self.ids = recs[["record_id", "entity_id"]]
        self.input_path = _write(
            recs.drop(columns=["entity_id"]),
            os.path.join(self.inputs_dir, "person.parquet"))

    def run(self, spark, out: str, tr) -> None:
        with tr.span("readers.read_table"):
            df = read_table(spark, self.input_path)
        with tr.span("linkage.dedup_table"):
            res = dedup_table(df, self.schema, blocking=BLOCKING, keep_non_match=True,
                              dict_max_classes=DICT_MAX_CLASSES)
        with tr.span("sink.write_matches"):
            res.write.mode("overwrite").parquet(f"{out}/matches")
        with tr.span("readers.read_table"):
            matches = read_table(spark, f"{out}/matches")
        with tr.span("clustering.assign_clusters"):
            clusters = assign_clusters(
                df.select("record_id"),
                matches.filter(F.col("classification") == "match").select("id1", "id2"))
        with tr.span("sink.write_clusters"):
            clusters.write.mode("overwrite").parquet(f"{out}/clusters")

    def check(self, spark, out: str, first: bool) -> dict:
        matches = spark.read.parquet(f"{out}/matches")
        h = value_hash(matches)
        res = {"hash": [h, value_hash(spark.read.parquet(f"{out}/clusters"))],
               "pairs_scored": h[0]}
        if first:
            res["pairwise_f1"] = _f1(matches, self.truth(spark))
            res["match_edges"] = matches.filter(F.col("classification") == "match").count()
        return res


class RepoLinkDiverse(_PersonLike):
    """The two command-line shapes of the package on one source-repo table:
    ``scripts/run_linkage.py`` (checkpointed linkage, then a resume over
    the completed output) and ``scripts/dedup_corpus.py`` (MinHash LSH
    candidates, exact shingle rerank) on the files of a third of the repos,
    mirrors included."""

    name = "repo_link_diverse"
    why = ("diverse source-repo rows: direct struct-UDF scoring in a "
           "checkpointed run plus resume, then MinHash near-dup dedup of content")
    schema = REPO_SCHEMA
    matcher = REPO_MATCHER

    def generate(self) -> None:
        rows = repo_rows(self.size, self.seed)
        self.ids = pd.DataFrame({
            "record_id": rows["repo"] + "|" + rows["path"],
            "entity_id": rows["entity_id"]})
        self.input_path = _write(
            rows.drop(columns=["entity_id"]), os.path.join(self.inputs_dir, "repos.parquet"))
        docs = rows[rows["entity_id"] < self.size * DOC_SHARE]
        docs = pd.DataFrame({"doc_id": docs["repo"] + "|" + docs["path"],
                             "text": docs["content"], "entity_id": docs["entity_id"]})
        self.doc_ids = docs[["doc_id", "entity_id"]].rename(columns={"doc_id": "record_id"})
        self.docs_path = _write(docs.drop(columns=["entity_id"]),
                                os.path.join(self.inputs_dir, "docs.parquet"))

    def linkage_input(self, spark):
        return repo_as_person(read_table(spark, self.input_path))

    def _runner(self, out: str) -> CheckpointedLinkage:
        return CheckpointedLinkage(f"{out}/linkage", num_ranges=CHECKPOINT_RANGES,
                                   schema=self.schema, blocking=BLOCKING, matcher=self.matcher,
                                   dict_max_classes=DICT_MAX_CLASSES)

    def run(self, spark, out: str, tr) -> None:
        with tr.span("readers.read_table"):
            df = repo_as_person(read_table(spark, self.input_path))
        with tr.span("checkpoint.run"):
            executed = self._runner(out).run(df, keep_non_match=True)
        with tr.span("checkpoint.resume"):
            resumed = self._runner(out).run(df, keep_non_match=True)
        if executed != list(range(CHECKPOINT_RANGES)) or resumed:
            raise AssertionError(f"ranges executed {executed}, then resumed {resumed}")
        with tr.span("readers.read_table"):
            docs = read_table(spark, self.docs_path)
        with tr.span("dedup.minhash_lsh_pairs"):
            cand = minhash_lsh_pairs(docs)
        with tr.span("dedup.shingle_jaccard_rerank"):
            near = shingle_jaccard_rerank(docs, cand, threshold=DOC_THRESHOLD)
        with tr.span("sink.write_near_dups"):
            near.write.mode("overwrite").parquet(f"{out}/near_dups")

    def census(self, spark) -> dict:
        out = super().census(spark)
        docs = read_table(spark, self.docs_path)
        out["documents"] = docs.count()
        out["lsh_candidates"] = minhash_lsh_pairs(docs).count()
        return out

    def check(self, spark, out: str, first: bool) -> dict:
        sink = self._runner(out).results(spark)
        near = spark.read.parquet(f"{out}/near_dups")
        h, hn = value_hash(sink), value_hash(near)
        res = {"hash": [h, hn], "pairs_scored": h[0], "near_dups": hn[0]}
        if first:
            res["pairwise_f1"] = _f1(sink, self.truth(spark))
            # every labelled pair counts, so a mirror the LSH bands miss
            # is a false negative
            res["near_dup_f1"] = _f1(near.withColumnRenamed("jaccard", "score"),
                                     _truth(spark, self.doc_ids, self.seed),
                                     match_threshold=DOC_THRESHOLD, restrict_to_blocked=False)
        return res

    def parity(self, spark, out: str) -> bool:
        """The checkpoint sink equals the single-plan ``dedup_table`` result
        on the same input (a sink round trip)."""
        single = dedup_table(self.linkage_input(spark), self.schema, blocking=BLOCKING,
                             matcher=self.matcher, keep_non_match=True,
                             dict_max_classes=DICT_MAX_CLASSES)
        sink = self._runner(out).results(spark)
        cols = sorted(single.columns)
        return value_hash(single.select(*cols)) == value_hash(sink.select(*cols))


WORKLOADS = {w.name: w for w in (PersonDedup, RepoLinkDiverse)}
