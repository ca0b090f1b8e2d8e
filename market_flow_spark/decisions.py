"""Route decisions on stdlib ``logging``: one record shape for every
operator that picks a physical route from an observed size.

A size-routed operator calls :func:`decision_log` once per decision with
the statistics it observed, the threshold it compared them against and
the route it took, so a run explains its own plan choices. Records go to
the ``market_flow_spark.decisions`` logger at INFO; the structured record
rides on ``LogRecord.decision`` for handlers that want fields, not text.
"""

from __future__ import annotations

import logging
from typing import Any

logger = logging.getLogger(__name__)


def decision_log(
    operator: str, stats: dict[str, Any], threshold: Any, choice: str
) -> None:
    """Log one route decision."""
    record = {
        "operator": operator,
        "stats": dict(stats),
        "threshold": threshold,
        "choice": choice,
    }
    logger.info(
        "%s: %s against threshold %s -> %s",
        operator,
        record["stats"],
        threshold,
        choice,
        extra={"decision": record},
    )
