"""The corpus queries share one text front end (``operators/text.py``):
one tokenizer, one n-gram primitive and one BM25 scorer. These guards
fail when a second copy of any of them comes back."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from pyspark.sql import functions as F

import advanced_data_mining_and_big_data_analysis_spark as pkg
from advanced_data_mining_and_big_data_analysis_spark.operators import text as X

PKG = Path(pkg.__file__).parent
SOURCES = {p.relative_to(PKG).as_posix(): p.read_text() for p in sorted(PKG.rglob("*.py"))}

# arrays_zip over slices of one array: the offset-slice n-gram shape
OFFSET_ZIP = re.compile(r"arrays_zip\([\s\S]{0,300}?slice\(")
# split(normalize(text), " +") with or without trim: the second tokenizer
NORMALIZE_WORD_SPLIT = re.compile(r'normalize\([^()]*\)\)?,\s*" \+"')
# transform(sequence(...), lambda i: ... element_at(arr, i + ...)): an
# interpreted n-gram over adjacent elements
HOF_NGRAM = re.compile(
    r"transform\(\s*F\.sequence\([^\n]*\n?\s*lambda i:[\s\S]{0,300}?element_at\([^,]+,\s*i\s*\+"
)


def _hits(pattern: re.Pattern, prefix: str = "") -> list[str]:
    return [f for f, src in SOURCES.items() if f.startswith(prefix) and pattern.search(src)]


def test_one_tokenizer_and_one_ngram_primitive():
    # each pattern matches the formulation it replaced
    assert OFFSET_ZIP.search('F.arrays_zip(F.col("t").alias("a"), F.slice(F.col("t"), 2, n))')
    assert NORMALIZE_WORD_SPLIT.search('F.split(F.trim(X.normalize("text")), " +")')
    assert NORMALIZE_WORD_SPLIT.search('F.split(normalize(text_col), " +")')
    assert HOF_NGRAM.search(
        'F.transform(\n    F.sequence(F.lit(1), F.size("tk") - 1),\n'
        '    lambda i: F.struct(F.element_at("tk", i), F.element_at("tk", i + F.lit(1))),\n)'
    )
    zips = [(f, len(OFFSET_ZIP.findall(src))) for f, src in SOURCES.items() if OFFSET_ZIP.search(src)]
    assert zips == [("operators/text.py", 1)], f"offset-slice arrays_zip outside ngram_zip: {zips}"
    assert not [f for f, src in SOURCES.items() if "word_shingles" in src]
    assert not _hits(NORMALIZE_WORD_SPLIT), "word split of normalize(): use X.tokens"
    assert not _hits(HOF_NGRAM, "plans/"), "transform(sequence()) n-gram: use X.ngram_zip"


def test_each_bm25_constant_assigned_once():
    names: dict[str, list[str]] = {}
    values: dict[str, list[str]] = {}
    for f, src in SOURCES.items():
        for node in ast.parse(src).body:
            if not isinstance(node, ast.Assign):
                continue
            for target in node.targets:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name):
                        names.setdefault(name.id, []).append(f)
            values.setdefault(ast.unparse(node.value), []).append(f)
    for const in ("_BM25_K1", "_BM25_B", "_BM25_TERMS"):
        assert names.get(const) == ["plans/dedup_text.py"], (const, names.get(const))
    assert len(values["(1.2, 0.75)"]) == 1, values["(1.2, 0.75)"]
    assert len(values["['hash', 'join', 'vector']"]) == 1


def test_spread_reads_unit_suffixed_max_partition_bytes(spark):
    """``_spread`` counts input splits with the split size the scan uses:
    '64m' is 64 MiB, so an input between 64 and 128 MiB is two splits of
    under 0.75x its size each and is not repartitioned at that threshold;
    at '1g' it is one split and is."""
    key = "spark.sql.files.maxPartitionBytes"
    rows = spark.range(1 << 20).select(F.col("id").alias("doc_id"), F.lit("x").alias("text"))
    size = int(str(rows._jdf.queryExecution().analyzed().stats().sizeInBytes()))
    docs = spark.range((1 << 20) * 96 * 2**20 // size).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    size = int(str(docs._jdf.queryExecution().analyzed().stats().sizeInBytes()))
    assert 64 * 2**20 < size <= 128 * 2**20, size

    def repartitioned(setting: str) -> bool:
        spark.conf.set(key, setting)
        out = X._spread(docs, "doc_id", ["text"], min_split_bytes=size * 3 // 4)
        return "RepartitionByExpression" in out._jdf.queryExecution().analyzed().toString()

    old = spark.conf.get(key)
    try:
        assert not repartitioned("64m")
        assert not repartitioned("64MB")
        assert repartitioned("1g") == (spark.sparkContext.defaultParallelism > 1)
    finally:
        spark.conf.set(key, old)
