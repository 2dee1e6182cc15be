"""KG pipeline over the driver's flat ``documents`` testdata table.

The production input shape is the interleaved table (BASELINE.json
input_hint); the driver's testdata ``documents`` is flat (doc_id BIGINT,
text, lang, source, n_chars). This module adapts it deterministically:

  * each row becomes one example (its text span at offset 0) with gold
    entities = whole-word matches of a fixed 6-term lexicon, computed in
    the same Arrow batch (examples_with_golds); interleaved_docs gives
    the same rows as interleaved docs, plus a media span at offset 1 for
    every 3rd doc, for the media stages,
  * the stub generator runs NOISE-FREE, so the emitted mention set is a
    pure function of (text, lexicon) — which makes the mention counts
    SQL-expressible and DuckDB-checkable (__spark_entry__.oracle_sql:
    ``kg_mention_counts``).

This is the flagship ``entry()`` path: real testdata in, triples out.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from generative_ner_spark import schema
from generative_ner_spark.operators import detect
from generative_ner_spark.plans import pipeline
from generative_ner_spark.plans.session import adaptive_min_partitions
from generative_ner_spark.sources.synth import SynthConfig

# term -> reference-style label. No term is a substring of another (keeps
# the grounded-mention count formula exact, see oracle_sql).
LEXICON = {
    "spark": "ORG",
    "customer": "PER",
    "window": "MISC",
    "table": "LOC",
    "stream": "MISC",
    "vector": "ORG",
}

# The kg oracles replay this lexicon with raw '\b'+term+'\b' gates and a
# literal replace() substring count; the gold builder above-the-fold
# compiles rf"\b{term}\b" verbatim. Both are exact ONLY for pure
# lowercase word-character terms — a metacharacter term ('node.js')
# would regex-match on one side and literal-count on the other, and an
# uppercase term would never match the lowered text. Enforce the
# contract at import so a lexicon edit fails loudly instead of silently
# desyncing the oracles (q35's lexicon goes through
# streaming.mentions.word_pattern and has no such restriction).
for _t_ in LEXICON:
    assert re.fullmatch(r"[a-z0-9_]+", _t_), (
        f"LEXICON term {_t_!r} must be lowercase word characters: the "
        f"kg_mention_counts/kg_triples oracles and _lexicon_matches assume "
        f"regex-literal equivalence")

NOISELESS = SynthConfig(
    noise_drop_prob=0.0,
    noise_junk_prob=0.0,
    noise_garbage_prob=0.0,
    noise_unknown_type_prob=0.0,
)


def interleaved_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> interleaved (doc_id, spans) docs."""
    flat = adaptive_min_partitions(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("s3://corpus/media/img-"), F.col("doc_id")).alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    return flat.select(
        F.concat(F.lit("tdoc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.when(
            F.col("doc_id") % 3 == 0, F.array(text_span, media_span)
        ).otherwise(F.array(text_span)).alias("spans"),
    )


_LEXICON_PATTERNS = {
    t: re.compile(rf"\b{t}\b", re.IGNORECASE) for t in LEXICON
}


def _lexicon_matches(text: str) -> list[dict]:
    """THE gold matcher behind examples_with_golds. Matches run
    case-insensitively over the ORIGINAL text — not over text.lower(),
    whose length can differ for some Unicode characters (U+0130
    lowercases to two code points), which would shift every subsequent
    offset off the original document.
    Sorted (start, end, label) for deterministic gold_spans ordering."""
    golds = [
        {"start": m.start(), "end": m.end(), "label": LEXICON[term]}
        for term, pat in _LEXICON_PATTERNS.items()
        for m in pat.finditer(text)
    ]
    golds.sort(key=lambda g: (g["start"], g["end"], g["label"]))
    return golds


def lexicon_alias_df(spark: SparkSession) -> DataFrame:
    rows = [
        {"alias": t, "entity_id": f"T:{t}", "prior": 1.0, "entity_type": lbl}
        for t, lbl in LEXICON.items()
    ]
    return spark.createDataFrame(rows, schema.ALIAS_SCHEMA)


def lexicon_entities_df(spark: SparkSession) -> DataFrame:
    rows = [
        {"entity_id": f"T:{t}", "name": t, "entity_type": lbl}
        for t, lbl in LEXICON.items()
    ]
    return spark.createDataFrame(rows, schema.ENTITY_SCHEMA)


_EXAMPLES_SCHEMA = (
    "example_id string, doc_id string, span_offset int, text string, "
    "gold_spans array<struct<start:bigint,end:bigint,label:string>>"
)


def examples_with_golds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused adapter: flat documents -> (example, gold_spans) in ONE pass.

    Golds here are derived from the text itself (lexicon matches), so
    computing them colocated with the explode avoids the generic
    attach_golds join entirely — zero shuffles before generation. The
    generic interleaved path (plans/pipeline.py) keeps the join because its
    golds come from a separate table.
    """
    flat = adaptive_min_partitions(
        spark.read.parquet(f"{sf_dir}/documents.parquet")).select("doc_id", "text")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"example_id": [], "doc_id": [], "span_offset": [],
                   "text": [], "gold_spans": []}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                golds = _lexicon_matches(text)
                out["example_id"].append(f"tdoc-{did}:0")
                out["doc_id"].append(f"tdoc-{did}")
                out["span_offset"].append(0)
                out["text"].append(text)
                out["gold_spans"].append(golds)
            yield pd.DataFrame(out)

    return flat.mapInPandas(fn, _EXAMPLES_SCHEMA)


def testdata_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention-detection stages only (no linking/canonicalization jobs)."""
    return detect.detect_mentions_fused(
        examples_with_golds(spark, sf_dir), NOISELESS
    )


def testdata_mentions_individual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individual-format path (one generation per (example, label)).

    Noise-free on the lexicon corpus, so its per-(doc,label) mention counts
    are IDENTICAL to the collective path's — both ground every distinct gold
    surface of each label — letting the two formats share one SQL oracle.
    """
    return detect.detect_mentions_individual(
        examples_with_golds(spark, sf_dir), NOISELESS
    )


def run_testdata_pipeline(spark: SparkSession, sf_dir: str,
                          **kwargs) -> pipeline.PipelineResult:
    """run_pipeline over the testdata corpus; ``kwargs`` go to run_pipeline
    (checkpoint_dir, sink_path, collect_metrics, canonical_df, ...)."""
    return pipeline.run_pipeline(
        spark, None, None, lexicon_alias_df(spark), lexicon_entities_df(spark),
        NOISELESS, examples_with_golds=examples_with_golds(spark, sf_dir),
        **kwargs,
    )
