"""Experiment/function config subsystem (SURVEY.md §1.1.6, §3.1; S11).

Mirrors the reference's config semantics:

- defaulting: missing keys filled from a defaults document
  (``faas_runner.py:26-64,158-196``);
- CLI-style overrides with typed coercion — try int, then JSON, then raw
  string (``faas_runner.py:207-217``);
- per-index overrides ``attr[i]`` that patch only the i-th config
  (``faas_runner.py:174-179,201-205``);
- payload inheritance with priority ``payloads > payloadFolder >
  parentPayload`` and dict-merge child-over-parent
  (``experiment_orchestrator.py:90-130``, ``test/README.md:102-103``).

Driver-side (not data-plane): plain dicts in, a ReportConfig out.
"""

from __future__ import annotations

import copy
import json
from typing import Any

from .operators.report import ReportConfig

#: Analytics-relevant defaults, mirroring ``defaultExperiment``
#: (faas_runner.py:34-64).
DEFAULT_EXPERIMENT: dict[str, Any] = {
    "runs": 10,
    "threads": 10,
    "iterations": 1,
    "randomSeed": 42,
    "outputGroups": [],
    "showAsList": [],
    "showAsSum": [],
    "ignoreFromAll": [],
    "ignoreFromGroups": [],
    "ignoreByGroup": {},
    "invalidators": {},
    "removeDuplicateContainers": False,
    "overlapFilter": "",
    "combineSheets": False,
    "warmupBuffer": 0,
    "payloads": [],
    "payloadFolder": "",
    "parentPayload": {},
    "passPayloads": False,
    "transitions": {},
}


def load_config(path_or_dict: str | dict[str, Any]) -> dict[str, Any]:
    """Load a config document and fill defaults (faas_runner.py:158-196)."""
    if isinstance(path_or_dict, str):
        with open(path_or_dict) as f:
            doc = json.load(f)
    else:
        doc = dict(path_or_dict)
    out = copy.deepcopy(DEFAULT_EXPERIMENT)
    out.update(doc)
    return out


def coerce_override(value: str) -> Any:
    """Typed override coercion: int → JSON → raw string
    (faas_runner.py:207-217)."""
    try:
        return int(value)
    except ValueError:
        pass
    try:
        return json.loads(value)
    except (json.JSONDecodeError, ValueError):
        return value


def apply_overrides(
    configs: list[dict[str, Any]], overrides: dict[str, str]
) -> list[dict[str, Any]]:
    """Apply ``--attr value`` (all configs) and ``--attr[i] value`` (config i)
    overrides with typed coercion (faas_runner.py:174-179,201-217)."""
    out = [copy.deepcopy(c) for c in configs]
    for key, raw in overrides.items():
        val = coerce_override(raw)
        if key.endswith("]") and "[" in key:
            attr, idx = key[:-1].split("[", 1)
            out[int(idx)][attr] = val
        else:
            for c in out:
                c[key] = val
    return out


def to_report_config(cfg: dict[str, Any]) -> ReportConfig:
    """Project the experiment document onto the report plan's config."""
    return ReportConfig(
        output_groups=list(cfg.get("outputGroups") or []),
        output_raw_of_group=list(cfg.get("outputRawOfGroup") or []),
        overlap_filter=str(cfg.get("overlapFilter") or ""),
        show_as_list=list(cfg.get("showAsList") or []),
        show_as_sum=list(cfg.get("showAsSum") or []),
        ignore_from_all=list(cfg.get("ignoreFromAll") or []),
        ignore_from_groups=list(cfg.get("ignoreFromGroups") or []),
        ignore_by_group=dict(cfg.get("ignoreByGroup") or {}),
        invalidators=dict(cfg.get("invalidators") or {}),
        remove_duplicate_containers=bool(cfg.get("removeDuplicateContainers")),
        warmup_buffer=int(cfg.get("warmupBuffer") or 0),
    )
