"""The benchmark's workloads: one pass of each through the engine's public
API, and the checks of that pass's outputs.

Every call into the engine goes through a module attribute
(``flows.preprocess_lineitem``, ``similarity.semantic_dedup_daily``), so
the tracer's wrappers see it. A lazy result that the benchmark itself
materializes is collected through ``act(layer, fn)``, which charges the
jobs it fires to the layer that built the plan.

Checks run after the timed window. Each pass is checked on its own:
against what the generator planted, and for consistency between the
outputs it wrote (manifest against dataset, audit against the state it
appended to, the epoch order against a second computation of it). When a
run makes more than one pass, later passes must also repeat the first
exactly, and model metrics within a tolerance.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.dataset as pads
from pyspark.sql import functions as F

from yellowrush_spark_ml_pipeline_spark import flows
from yellowrush_spark_ml_pipeline_spark.operators import similarity
from yellowrush_spark_ml_pipeline_spark.sources import readers

# roc_auc of one fitted forest drifts in the 6th digit between identical
# passes (tie order inside the ranking); the other metrics repeat exactly.
ROC_AUC_TOL = 1e-4
METRIC_TOL = 1e-9
SEMDEDUP_THRESHOLD = 0.9


def _rows(path: str) -> int:
    return pads.dataset(path, format="parquet",
                        partitioning="hive").count_rows()


def _ids(path: str) -> set[int]:
    return set(pads.dataset(path, format="parquet", partitioning="hive")
               .to_table(columns=["vec_id"]).column("vec_id").to_pylist())


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    ops: tuple[str, ...] = ()

    def __init__(self, spark, inputs) -> None:
        self.spark = spark
        self.inputs = inputs

    def table(self, name: str) -> str:
        return os.path.join(self.inputs.sf_dir, f"{name}.parquet")

    def run_pass(self, pass_dir: str, act) -> dict:
        raise NotImplementedError

    def check(self, out: dict, pass_dir: str, ref: dict | None) -> dict:
        """Errors per op, as ``{op: [message, ...]}``; ``ref`` is the
        first pass's output when this is a later pass."""
        raise NotImplementedError


class TaxiEtlMl(Workload):
    """The paper's own workload: the taxi preprocessing flow into a
    partitioned Parquet dataset, its validation gate, then the delay and
    the congestion model flows on the written dataset, saving both
    models."""

    name = "taxi_etl_ml"
    tables = ("lineitem", "part")
    ops = ("etl", "validate", "is_over_expected", "is_discounted")
    FEATURES = {
        "is_over_expected": ["ship_month", "ship_day_of_week",
                             "ship_is_holiday", "l_quantity",
                             "p_retailprice", "l_extendedprice",
                             "returnflag_cat_ohe"],
        "is_discounted": ["l_extendedprice", "ship_month", "l_quantity"],
    }

    def run_pass(self, pass_dir: str, act) -> dict:
        pre = os.path.join(pass_dir, "preprocessed")
        flows.preprocess_lineitem(self.spark, self.inputs.sf_dir,
                                  output_path=pre)
        df = readers.read_parquet(self.spark, pre)
        out = {"validate": flows.validate_preprocessed(df)}
        for label, feats in self.FEATURES.items():
            out[label] = flows.train_and_evaluate(
                df, feats, label, sample_fraction=None,
                model_path=os.path.join(pass_dir, "models", label),
                seed=self.inputs.split_seed)
        return out

    def check(self, out: dict, pass_dir: str, ref: dict | None) -> dict:
        errs: dict[str, list[str]] = {op: [] for op in self.ops}
        valid = self.inputs.valid_lineitems
        written = _rows(os.path.join(pass_dir, "preprocessed"))
        if written != valid:
            errs["etl"].append(f"wrote {written} rows, {valid} are valid")
        v = out["validate"]
        if v["row_count"] != valid:
            errs["validate"].append(f"row_count {v['row_count']} != {valid}")
        bad = {k: n for k, n in v.items() if k != "row_count" and n}
        if bad:
            errs["validate"].append(f"nonzero null/negative counts {bad}")
        for label in self.FEATURES:
            m = out[label]
            if not os.path.isdir(os.path.join(pass_dir, "models", label,
                                              "stages")):
                errs[label].append("model not saved")
            if not all(0.0 <= x <= 1.0 for x in m.values()):
                errs[label].append(f"metrics out of [0, 1]: {m}")
        # the delay label is a function of the features: a fit that cannot
        # separate it is broken
        auc = out["is_over_expected"]["roc_auc"]
        if auc < 0.8:
            errs["is_over_expected"].append(f"roc_auc {auc} < 0.8")
        if ref is not None:
            if v != ref["validate"]:
                errs["validate"].append(f"{v} != first pass {ref['validate']}")
            for label in self.FEATURES:
                for key, val in out[label].items():
                    tol = ROC_AUC_TOL if key == "roc_auc" else METRIC_TOL
                    if abs(val - ref[label][key]) > tol:
                        errs[label].append(
                            f"{key} {val} != first pass {ref[label][key]}")
        return errs


class CorpusSemantic(Workload):
    """The LLM-data final mile plus the embedding tier's state lifecycle.

    One pass exports the curated training set (quality gate, language ID,
    MinHash LSH, connected components, split, packing, partitioned write
    and manifest) and pins its seeded epoch order. It then builds the
    SemDeDup kept-set state from the corpus embeddings, persists it, and
    runs one daily tick, which reads the persisted state, judges the
    day's batch against it and appends the keepers."""

    name = "corpus_semantic"
    tables = ("documents", "sem_corpus", "sem_batch")
    ops = ("export", "build", "tick")

    def _epoch_order(self, export: str) -> list:
        dataset = readers.read_parquet(self.spark, export)
        return [(r.doc_id, r.epoch_rank) for r in flows.epoch_shuffle(
            dataset, seed=self.inputs.split_seed
        ).select("doc_id", "epoch_rank").collect()]

    def run_pass(self, pass_dir: str, act) -> dict:
        spark = self.spark
        export = os.path.join(pass_dir, "export")
        docs = readers.read_parquet(spark, self.table("documents"))
        flows.export_training_set(docs, output_path=export,
                                  seed=self.inputs.split_seed)
        order = act("flows", lambda: self._epoch_order(export))

        state = os.path.join(pass_dir, "state")
        corpus = readers.read_parquet(
            spark, self.table("sem_corpus")).select("vec_id", "embedding")
        # one assignment round: the daily tick reads the state's layout,
        # not the quality of its clustering
        audit, cents = similarity.semantic_dedup_build(
            corpus, threshold=SEMDEDUP_THRESHOLD, k="auto", n_assign=1)
        kept = (audit.filter(F.col("keep") == 1)
                .select("vec_id", "cluster_id", "dist")
                .join(corpus, "vec_id"))
        similarity.save_semantic_state(kept, cents, state)

        batch = readers.read_parquet(spark, self.table("sem_batch")).select(
            "vec_id", "embedding")
        audit = similarity.semantic_dedup_daily(
            batch, state,
            threshold=SEMDEDUP_THRESHOLD, batch_tag="tick")
        decisions = act("operators.similarity",
                        lambda: audit.select("vec_id", "keep").collect())
        return {
            "epoch_order": order,
            "decisions": {r.vec_id: r.keep for r in decisions},
        }

    def check(self, out: dict, pass_dir: str, ref: dict | None) -> dict:
        errs: dict[str, list[str]] = {op: [] for op in self.ops}
        inp = self.inputs
        export = os.path.join(pass_dir, "export")

        # export: the manifest accounts for exactly the rows written
        manifest = sorted(tuple(r) for r in readers.read_parquet(
            self.spark, f"{export}_manifest").select(
                "split", "lang", "n_docs", "n_tokens", "n_bins").collect())
        written = pads.dataset(export, format="parquet", partitioning="hive")
        cells = written.to_table(
            columns=["split", "lang", "pack_tokens", "bin_id"]
        ).group_by(["split", "lang"]).aggregate(
            [("pack_tokens", "count"), ("pack_tokens", "sum"),
             ("bin_id", "max")]).to_pylist()
        recount = sorted((c["split"], c["lang"], c["pack_tokens_count"],
                          c["pack_tokens_sum"], c["bin_id_max"] + 1)
                         for c in cells)
        if manifest != recount:
            errs["export"].append(f"manifest {manifest} != dataset {recount}")
        order = sorted(out["epoch_order"], key=lambda t: t[1])
        ids = {d for d, _ in order}
        if [r for _, r in order] != list(range(1, written.count_rows() + 1)):
            errs["export"].append("epoch ranks are not 1..rows written")
        if ids & set(inp.near_dup_ids):
            errs["export"].append("planted near-duplicates survived")
        if not set(inp.near_dup_sources) <= ids:
            errs["export"].append("originals of near-duplicates dropped")
        digest = hashlib.sha256(repr(order).encode()).hexdigest()
        again = sorted(self._epoch_order(export), key=lambda t: t[1])
        if hashlib.sha256(repr(again).encode()).hexdigest() != digest:
            errs["export"].append("epoch order differs when recomputed")

        # build: no two corpus vectors are near-duplicates, so the state
        # holds every one of them; tick: planted copies pruned, exactly
        # the keepers appended
        dec = out["decisions"]
        state = os.path.join(pass_dir, "state")
        state_ids = _ids(os.path.join(state, "kept.parquet"))
        corpus_ids = _ids(self.table("sem_corpus"))
        if state_ids & corpus_ids != corpus_ids:
            errs["build"].append(
                f"state holds {len(state_ids & corpus_ids)} of "
                f"{len(corpus_ids)} corpus vectors")
        if len(dec) != inp.batch_rows:
            errs["tick"].append(f"{len(dec)} decisions, {inp.batch_rows} rows")
        survived = [i for i in inp.planted_copy_ids if dec.get(i) != 0]
        if survived:
            errs["tick"].append(f"collinear copies not pruned: {survived}")
        keepers = {i for i, k in dec.items() if k}
        if state_ids - corpus_ids != keepers:
            errs["tick"].append(
                f"state gained {len(state_ids - corpus_ids)} batch rows, "
                f"{len(keepers)} kept")
        with open(os.path.join(state, "meta.json")) as fh:
            meta = json.load(fh)
        if meta.get("applied_tags") != ["tick"]:
            errs["tick"].append(f"meta records {meta.get('applied_tags')}")
        keep = len(keepers)

        # kept on the output, so the first pass's become the reference
        out["manifest"], out["epoch_hash"] = manifest, digest
        out["keep_prune"] = (keep, len(dec) - keep)
        if ref is not None:
            if manifest != ref["manifest"]:
                errs["export"].append("manifest differs from first pass")
            if digest != ref["epoch_hash"]:
                errs["export"].append("epoch order differs from first pass")
            if out["keep_prune"] != ref["keep_prune"]:
                errs["tick"].append(f"keep/prune {out['keep_prune']} != "
                                    f"first pass {ref['keep_prune']}")
        return errs


WORKLOADS = {w.name: w for w in (TaxiEtlMl, CorpusSemantic)}
