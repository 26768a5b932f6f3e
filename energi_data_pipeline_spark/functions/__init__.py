"""Column-level function library (all JVM-side Catalyst expressions).

Every helper returns a :class:`pyspark.sql.Column` built from
``pyspark.sql.functions`` so the whole expression tree stays inside
whole-stage codegen — no Python UDFs on the hot path.
"""

from .timeparts import dow_sunday0, is_weekend, season  # noqa: F401
from .guards import guarded_ratio  # noqa: F401
from .hashing import stable_hash64  # noqa: F401
