from xboard_spark.functions.portable_hash import (  # noqa: F401
    duck_fingerprint64,
    fingerprint64,
)
