"""Column-expression library — the reference's cleaning / derivation
semantics re-expressed as pure Spark column expressions (SURVEY.md
§2.8). Everything here is JVM-side and Catalyst-optimizable; no UDFs.
"""

from pythondataingestionprocess_spark.functions.cleaning import (  # noqa: F401
    money_clean,
    normalize_null_markers,
    safe_float,
    signed_money,
    truncate_str,
)
from pythondataingestionprocess_spark.functions.dates import (  # noqa: F401
    excel_serial_to_date,
    parse_stmt_date,
)
from pythondataingestionprocess_spark.functions.pricing import (  # noqa: F401
    DESCUENTO_OFERTA,
    MARGEN_GANANCIA,
    calc_price,
    offer_price,
    sale_price,
    tier_multiplier,
)
from pythondataingestionprocess_spark.functions.urls import (  # noqa: F401
    canonicalize_provider_url,
    domain_from_url,
    store_name_from_url,
    url_host,
    url_path,
    url_scheme,
)
