"""Physical-plan introspection and scale-invariant auditing."""

from .audit import (  # noqa: F401
    PlanAudit,
    assert_scalable,
    audit,
    descendants,
    explain_str,
    plan_digest,
    plan_nodes,
    single_partition_window_feeds,
)
