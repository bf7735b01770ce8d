"""Lint: the engine's `spark.maggma.*` conf surface is exactly the
allowlist below. Every engine knob must earn its place with a
measurement or a caller; an alternative that lost its A/B is deleted,
not kept behind a switch. A new key fails this test until it is added
here, on purpose, with its reason."""

from __future__ import annotations

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "maggma_spark"

# key -> reason, and the measurement or caller that justifies it
ALLOWED = {
    "spark.maggma.globalWindow.minRowsPerRange":
        "fewer, wider scaffold ranges at small data: 32 -> 8 ranges cut "
        "the global-window bench rows 25-35% at sf0.1 (SCALE.md round-9)",
    "spark.maggma.globalWindow.checkpoint":
        "`never` escape for clusters where executor churn makes "
        "localCheckpoint blocks too risky; `auto` cut ~95% of "
        "swf_global_frames_suite's re-execution (SCALE.md round-9)",
    "spark.maggma.windowPctl.method":
        "Mongo's method:'approximate' semantics switch for window "
        "percentiles; caller: the window_pctl_approx_bound catalog row",
    "spark.maggma.windowPctl.approxBuckets":
        "rank-error vs cost trade of the approximate mode; caller: "
        "window_pctl_approx_bound (16) and the rank-bound tests",
    "spark.maggma.windowPctl.broadcastJoinBackBytes":
        "driver-safety cap of the percentile/EMA join-back broadcast, "
        "which dropped the wide side's exchange+sort (SCALE.md round-12)",
    "spark.maggma.graph.smallComponentsEdges":
        "small-graph connected-components fast path: x0.32-x0.73 on "
        "the dedup rows (SCALE.md round-11); 0 disables",
}

_KEY = re.compile(r"spark\.maggma\.\S+")


def _engine_conf_keys() -> set:
    keys = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and _KEY.fullmatch(node.value)):
                keys.add(node.value)
    return keys


def test_engine_conf_surface_is_the_allowlist():
    assert len(ALLOWED) == 6
    assert _engine_conf_keys() == set(ALLOWED)
