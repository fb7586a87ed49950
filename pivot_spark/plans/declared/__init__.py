"""Declared correctness queries (SURVEY.md §2.4) — package form.

The registry was a single 11.4k-line module; it is now split into
sequential part modules (each ~1.5k lines) imported here IN ORDER, so
QUERIES/ORACLES keep the exact registration order of the original
module and a rotation edit touches one small file. Shared decorator/
helpers live in ``_base``; the streaming surface registers last, as
before."""

from pivot_spark.plans.declared._base import (  # noqa: F401
    ORACLES, QUERIES, query, round_doubles,
)
from pivot_spark.plans.declared import _q_p01_e28 as _q_p01_e28  # noqa: F401
from pivot_spark.plans.declared import _q_e29_e62 as _q_e29_e62  # noqa: F401
from pivot_spark.plans.declared import _q_e63_e95 as _q_e63_e95  # noqa: F401
from pivot_spark.plans.declared import _q_e96_e125 as _q_e96_e125  # noqa: F401
from pivot_spark.plans.declared import _q_e126_e155 as _q_e126_e155  # noqa: F401
from pivot_spark.plans.declared import _q_e156_e181 as _q_e156_e181  # noqa: F401
from pivot_spark.plans.declared import _q_e182_e207 as _q_e182_e207  # noqa: F401
from pivot_spark.plans.declared import _q_e208_e227 as _q_e208_e227  # noqa: F401

# Streaming surface replay queries: registered last so batch queries
# keep their insertion order; see declared_streaming.py.
from pivot_spark.plans.declared_streaming import register as _register_streaming

_register_streaming(query, round_doubles)
