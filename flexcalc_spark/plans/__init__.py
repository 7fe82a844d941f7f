"""Plan-inspection helpers (used by the tests and scripts/probe.py)."""

from flexcalc_spark.plans.explain import (  # noqa: F401
    canonical_plan,
    manifest_session,
    plan_digest,
    plan_manifest,
    plan_text,
    strip_volatile,
)
