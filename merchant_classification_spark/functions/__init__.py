from merchant_classification_spark.functions.cleaning import (
    CLEANING_STEPS,
    clean_narrative,
)
from merchant_classification_spark.functions.fasttext_format import to_fasttext_line
from merchant_classification_spark.functions.patterns import (
    DATETIME_PATTERN,
    PRICE_PATTERN,
)

__all__ = [
    "CLEANING_STEPS",
    "clean_narrative",
    "to_fasttext_line",
    "DATETIME_PATTERN",
    "PRICE_PATTERN",
]
