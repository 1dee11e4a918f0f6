from logdag_spark.pipeline.parse import parse_tokens_arrow  # noqa: F401
from logdag_spark.pipeline.enrich import enrich  # noqa: F401
from logdag_spark.pipeline.route import route  # noqa: F401
from logdag_spark.pipeline.aggregate import (  # noqa: F401
    binarize,
    discretize,
    fill_bins,
    rebin,
)
