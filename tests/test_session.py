"""Session build settings that the steady state depends on."""

from __future__ import annotations

from .conftest import codegen_compiles, run_key

# The keys of perfbench's llm_curation workload.
LLM_CURATION = (
    "sim_search_topk", "sim_pairwise_l2", "sim_knn_hubness", "sim_ann_lsh_topk",
    "dedup_minhash_banded", "dedup_fuzzy_minhash", "text_pipeline_clean",
)


def test_warm_pass_compiles_nothing(spark):
    """A second run of the llm_curation keys finds every generated
    class in the codegen cache: no Janino compile. At Spark's default
    of 100 entries the pass evicts its own classes and recompiles."""
    for key in LLM_CURATION:
        run_key(spark, key)
    before = codegen_compiles(spark)
    for key in LLM_CURATION:
        run_key(spark, key)
    assert codegen_compiles(spark) - before == 0
