"""Config resolution chain: kwargs > env > .env > YAML > defaults
(reference: glmocr/config.py:293-364 from_env priority order)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from glm_ocr_spark.config_loader import load_config


def test_defaults(tmp_path):
    cfg, job = load_config(dotenv_path=str(tmp_path / "none.env"), env={})
    from glm_ocr_spark.config import SCORE_THRESHOLD

    assert cfg.score_threshold == SCORE_THRESHOLD
    assert cfg.nms_enabled is True
    assert job["mode"] == "layout"


def test_yaml_layer(tmp_path):
    y = tmp_path / "extract.yaml"
    y.write_text(
        "extract:\n"
        "  score_threshold: 0.61\n"
        "  nms_enabled: false\n"
        "  unclip_ratio: [1.2, 1.1]\n"
        "  merge_modes: {22: union}\n"
        "  mode: ocr_only\n"
    )
    cfg, job = load_config(config_path=str(y),
                           dotenv_path=str(tmp_path / "none.env"), env={})
    assert cfg.score_threshold == 0.61
    assert cfg.nms_enabled is False
    assert cfg.unclip_ratio == (1.2, 1.1)
    assert cfg.merge_modes[22] == "union"
    assert job["mode"] == "ocr_only"


def test_env_overrides_yaml(tmp_path):
    y = tmp_path / "extract.yaml"
    y.write_text("extract: {score_threshold: 0.61, mode: ocr_only}\n")
    cfg, job = load_config(
        config_path=str(y), dotenv_path=str(tmp_path / "none.env"),
        env={"GLMOCR_SPARK_SCORE_THRESHOLD": "0.72",
             "GLMOCR_SPARK_MODE": "layout",
             "GLMOCR_SPARK_NMS_ENABLED": "false"})
    assert cfg.score_threshold == 0.72
    assert cfg.nms_enabled is False
    assert job["mode"] == "layout"


def test_dotenv_fills_only_unset(tmp_path):
    d = tmp_path / ".env"
    # parsed as python-dotenv parses it: inline comments, `export`
    # prefixes and quoted values with spaces
    d.write_text("GLMOCR_SPARK_SCORE_THRESHOLD=0.5  # tuned\n"
                 "export GLMOCR_SPARK_MODE=ocr_only\n"
                 'GLMOCR_SPARK_UNCLIP_RATIO="1.2, 1.1" # c\n'
                 "# comment line\n")
    cfg, job = load_config(
        dotenv_path=str(d),
        env={"GLMOCR_SPARK_MODE": "layout"})  # env wins over .env
    assert cfg.score_threshold == 0.5        # from .env (unset in env)
    assert cfg.unclip_ratio == (1.2, 1.1)
    assert job["mode"] == "layout"
    _, job = load_config(dotenv_path=str(d), env={})
    assert job["mode"] == "ocr_only"


def test_kwargs_win(tmp_path):
    cfg, job = load_config(
        dotenv_path=str(tmp_path / "none.env"),
        env={"GLMOCR_SPARK_SCORE_THRESHOLD": "0.72"},
        score_threshold=0.9, mode="ocr_only")
    assert cfg.score_threshold == 0.9
    assert job["mode"] == "ocr_only"


def test_none_kwargs_ignored(tmp_path):
    cfg, job = load_config(
        dotenv_path=str(tmp_path / "none.env"),
        env={"GLMOCR_SPARK_SCORE_THRESHOLD": "0.72"},
        score_threshold=None, mode=None)
    assert cfg.score_threshold == 0.72
    assert job["mode"] == "layout"


def test_per_class_unclip_forms(tmp_path):
    y = tmp_path / "extract.yaml"
    y.write_text("extract:\n  unclip_ratio: {22: [2.0, 1.0]}\n")
    cfg, _ = load_config(config_path=str(y),
                         dotenv_path=str(tmp_path / "none.env"), env={})
    assert cfg.unclip_ratio == {22: (2.0, 1.0)}
    cfg2, _ = load_config(dotenv_path=str(tmp_path / "none.env"),
                          env={"GLMOCR_SPARK_UNCLIP_RATIO": "1.5,1.25"})
    assert cfg2.unclip_ratio == (1.5, 1.25)


def test_malformed_unclip_raises_clear_error(tmp_path):
    """Malformed user-supplied unclip values must raise ValueError naming
    the offending value and the accepted forms, never IndexError/TypeError
    (round-2 advice)."""
    import pytest

    from glm_ocr_spark.config_loader import load_config

    for bad in ("1.2", "a,b", "1,2,3"):
        with pytest.raises(ValueError, match="unclip_ratio"):
            load_config(env={"GLMOCR_SPARK_UNCLIP_RATIO": bad})
    y = tmp_path / "bad.yaml"
    y.write_text("extract:\n  unclip_ratio: 1.2\n")
    with pytest.raises(ValueError, match="accepted forms"):
        load_config(config_path=str(y))
    y.write_text("extract:\n  unclip_ratio: {22: [2.0]}\n")
    with pytest.raises(ValueError, match="unclip_ratio"):
        load_config(config_path=str(y))
