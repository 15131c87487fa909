"""Config resolution chain: kwargs > env > .env > YAML > defaults.

Mirrors the reference's layered loader (glmocr/config.py:293-364:
``from_env`` builds overrides > ``GLMOCR_*`` env > YAML > pydantic
defaults, with ``.env`` read by python-dotenv) for the knobs this engine
actually has — the extraction kernel's ``ExtractConfig`` plus job-level
options. Spark-side state (shuffle partitions etc.) stays in spark-submit
conf where it belongs.

YAML shape (all keys optional)::

    extract:
      score_threshold: 0.5
      score_threshold_by_class: {22: 0.6}
      nms_enabled: true
      unclip_ratio: [1.0, 1.0]          # or per-class: {22: [2.0, 1.0]}
      merge_modes: {22: large}
      mode: layout                       # or ocr_only

Environment variables (each overrides the YAML value)::

    GLMOCR_SPARK_SCORE_THRESHOLD=0.55
    GLMOCR_SPARK_NMS_ENABLED=false
    GLMOCR_SPARK_UNCLIP_RATIO=1.2,1.1
    GLMOCR_SPARK_MODE=ocr_only

A ``.env`` file is read with python-dotenv (quotes, inline comments and
``export`` prefixes as it parses them) and fills ONLY unset process env
vars, like python-dotenv's default no-override behavior.
"""

from __future__ import annotations

import os
from typing import Any

ENV_PREFIX = "GLMOCR_SPARK_"

_ENV_KEYS = ("score_threshold", "nms_enabled", "unclip_ratio", "mode")


def _coerce_bool(v: str) -> bool:
    return v.strip().lower() in ("1", "true", "yes", "on")


_UNCLIP_FORMS = "accepted forms: 'w,h', [w, h], or {cls: [w, h]}"


def _coerce_unclip(v: Any):
    """Accept 'w,h', [w, h], or {cls: [w, h]}; raise ValueError naming the
    offending value for anything else — this parses user-supplied env vars
    and YAML, where a malformed value must produce a clear error, not an
    IndexError/TypeError traceback (round-2 advice)."""
    if v is None:
        return None
    try:
        if isinstance(v, str):
            parts = [float(x) for x in v.split(",")]
        elif isinstance(v, dict):
            out = {}
            for k, p in v.items():
                pair = list(p) if not isinstance(p, (str, bytes)) else None
                if pair is None or len(pair) != 2:
                    raise ValueError
                out[int(k)] = (float(pair[0]), float(pair[1]))
            return out
        elif isinstance(v, (int, float)):
            raise ValueError
        else:
            parts = [float(x) for x in v]
        if len(parts) != 2:
            raise ValueError
        return (parts[0], parts[1])
    except (ValueError, TypeError):
        raise ValueError(
            f"invalid unclip_ratio {v!r}; {_UNCLIP_FORMS}") from None


def load_config(config_path: str | None = None,
                dotenv_path: str = ".env",
                env: dict[str, str] | None = None,
                **overrides: Any) -> tuple["ExtractConfig", dict[str, Any]]:  # noqa: F821
    """Resolve (ExtractConfig, job_options) through the full chain.

    Returns the kernel config plus a dict of non-kernel options (currently
    ``mode``). Unknown kwargs are ignored (reference behavior: "any other
    keyword is silently ignored", glmocr/config.py:316-318).
    """
    from glm_ocr_spark.kernel.extract import ExtractConfig

    # 1. defaults <- YAML
    data: dict[str, Any] = {}
    if config_path:
        import yaml

        with open(config_path, encoding="utf-8") as f:
            loaded = yaml.safe_load(f) or {}
        data.update(loaded.get("extract") or {})

    # 2. <- .env (fills only unset process env) then process env
    from dotenv import dotenv_values

    environ = dict(env if env is not None else os.environ)
    for k, v in dotenv_values(dotenv_path).items():
        if v is not None:  # a bare `KEY` line sets nothing
            environ.setdefault(k, v)
    for key in _ENV_KEYS:
        ev = environ.get(ENV_PREFIX + key.upper())
        if ev is not None:
            data[key] = ev

    # 3. <- kwargs (highest priority; None means "not set")
    for k, v in overrides.items():
        if v is not None:
            data[k] = v

    # coerce + split kernel knobs from job options
    kw: dict[str, Any] = {}
    if "score_threshold" in data:
        kw["score_threshold"] = float(data["score_threshold"])
    if "score_threshold_by_class" in data:
        kw["score_threshold_by_class"] = {
            int(k): float(v)
            for k, v in (data["score_threshold_by_class"] or {}).items()}
    if "nms_enabled" in data:
        v = data["nms_enabled"]
        kw["nms_enabled"] = _coerce_bool(v) if isinstance(v, str) else bool(v)
    if "unclip_ratio" in data:
        kw["unclip_ratio"] = _coerce_unclip(data["unclip_ratio"])
    if "merge_modes" in data:
        kw["merge_modes"] = {int(k): str(v)
                             for k, v in (data["merge_modes"] or {}).items()}
    job = {"mode": str(data.get("mode", "layout"))}
    return ExtractConfig(**kw), job
