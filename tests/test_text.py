"""Text-analysis expression semantics on crafted strings."""

from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.functions import text as T


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col.alias("v")).collect()[0].v


def test_token_count_ws(spark):
    assert _one(spark, "a b  c", T.token_count_ws(F.col("text"))) == 3
    assert _one(spark, "", T.token_count_ws(F.col("text"))) == 0
    assert _one(spark, "   ", T.token_count_ws(F.col("text"))) == 0
    assert _one(spark, "single", T.token_count_ws(F.col("text"))) == 1


def test_token_count_bpeish(spark):
    # "don't stop2" → don | ' | t | stop | 2
    assert _one(spark, "don't stop2", T.token_count_bpeish(F.col("text"))) == 5


def test_punct_ratio(spark):
    assert _one(spark, "abcd", T.punct_ratio(F.col("text"))) == 0.0
    assert _one(spark, "a!b!", T.punct_ratio(F.col("text"))) == 0.5


def test_stopword_ratio(spark):
    assert _one(spark, "the cat", T.stopword_ratio(F.col("text"))) == 0.5


def test_lang_id_markers(spark):
    assert _one(spark, "the cat and the dog is here", T.lang_id(F.col("text"))) == "en"
    assert _one(spark, "el gato de la casa los", T.lang_id(F.col("text"))) == "es"
    assert _one(spark, "xyzzy qwerty", T.lang_id(F.col("text"))) == "unknown"


def test_quality_score_range(spark):
    v = _one(spark, "the " * 20 + "end", T.quality_score(F.col("text")))
    assert 0.0 <= v <= 1.0


def test_session_lower_case_mapping(spark):
    """lower() runs the JVM's Unicode mapping (the session turns ICU
    case mappings off) in an en-US JVM.  Final sigma, dotted capital I,
    Latin-1 and sharp s agree with ICU; U+10570 (Unicode 14) is newer
    than this JVM's tables and stays unchanged, as DuckDB's lower
    leaves it.  A tr-TR JVM would lower 'I' to a dotless 'ı'."""
    cases = {
        "ΣΊΣΥΦΟΣ": "σίσυφος",
        "İ": "i̇",
        "ÀÉÎÕÜ Ÿ": "àéîõü ÿ",
        "Straße ẞ": "straße ß",
        "\U00010570": "\U00010570",
        "TITLE Éi": "title éi",
    }
    for text, want in cases.items():
        assert _one(spark, text, F.lower("text")) == want, text
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    assert spark._jvm.java.util.Locale.getDefault().toLanguageTag() == "en-US"
