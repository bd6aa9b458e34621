"""Scalar column functions: date/time kernels of the reference
(``/root/reference/src/main/scala/com/cloudera/sparkts/Frequency.scala``,
``DateTimeIndex.scala:820-869``, ``TimeSeriesUtils.scala:303-310``) as pure
Spark SQL expressions — JVM-side, whole-stage-codegen friendly."""

from .hof import let  # noqa: F401
from .hashing import (  # noqa: F401
    HASH60_SCALE,
    hash60,
    hash60_seeded_sql,
    hash60_sql,
    hashed,
    hashed_sql,
    hashed_with_seed,
    hashed_with_seed_sql,
)
from .sqltext import expr_over, ident, literal  # noqa: F401
from .datetime import (  # noqa: F401
    business_day_difference,
    iso_dow,
    nanos_to_ts,
    next_business_day,
    rebase_day_of_week,
    ts_to_nanos,
)
