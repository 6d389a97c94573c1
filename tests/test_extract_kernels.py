"""The two extraction kernels (pandas/Arrow vs JVM expressions) must
produce identical mention sets — the expr path is the scaling fast
path, the pandas path the general contract (input_hint)."""

from batch_import_spark.pipeline.extract import extract_mentions, extract_mentions_expr
from batch_import_spark.pipeline.kg import run_kg_pipeline
from batch_import_spark.sources.transcripts import alias_dict_df, generate_transcripts


def test_extraction_kernels_equal(spark):
    t = generate_transcripts(spark, n_convs=40, median_turns=8, hot_factor=5)
    a = extract_mentions(t).collect()
    b = extract_mentions_expr(t).collect()
    key = lambda r: (r["conv_id"], r["turn_idx"], r["subj_surface"], r["pred"], r["obj_surface"])  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))
    assert len(a) > 0


def test_pipeline_equal_across_kernels_and_salt(spark):
    t = generate_transcripts(spark, n_convs=25, median_turns=6, hot_factor=4)
    alias = alias_dict_df(spark)

    def triples(**kw):
        return {
            (r["subj"], r["pred"], r["obj"], r["n_occurrences"])
            for r in run_kg_pipeline(t, alias, **kw).edges.select(
                "subj", "pred", "obj", "n_occurrences"
            ).collect()
        }

    base = triples()
    assert triples(extraction="expr") == base
