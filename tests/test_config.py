"""Layered config precedence (S5): defaults < YAML < env < flags,
mirroring reference config.py:83-123."""
from __future__ import annotations

import pytest

from sparkharvester.config import AppSettings, load_config


def test_defaults_only():
    cfg = load_config(env={})
    assert cfg.crawler.max_depth == AppSettings().crawler.max_depth
    assert cfg.synth.n_hosts == AppSettings().synth.n_hosts
    assert cfg.storage.output_dir == "results"


def test_yaml_overrides_defaults(tmp_path):
    y = tmp_path / "c.yaml"
    y.write_text(
        "crawler:\n  max_depth: 7\n  use_bloom: true\n"
        "synth:\n  n_hosts: 11\n"
        "storage:\n  output_dir: /tmp/yout\n"
        "seed_urls: [http://x.onion/]\nlog_level: DEBUG\n"
    )
    cfg = load_config(str(y), env={})
    assert cfg.crawler.max_depth == 7
    assert cfg.crawler.use_bloom is True
    assert cfg.synth.n_hosts == 11
    assert cfg.storage.output_dir == "/tmp/yout"
    assert cfg.seed_urls == ["http://x.onion/"]
    assert cfg.log_level == "DEBUG"
    # untouched fields keep defaults
    assert cfg.crawler.max_pages == AppSettings().crawler.max_pages


def test_env_overrides_yaml(tmp_path):
    y = tmp_path / "c.yaml"
    y.write_text("crawler:\n  max_depth: 7\nstorage:\n  output_dir: /tmp/yout\n")
    env = {"SPARKHARVESTER_MAX_DEPTH": "9", "OUTPUT_DIR": "/tmp/eout",
           "LOG_LEVEL": "WARN", "SPARKHARVESTER_USE_BLOOM": "true"}
    cfg = load_config(str(y), env=env)
    assert cfg.crawler.max_depth == 9          # env beats YAML
    assert cfg.storage.output_dir == "/tmp/eout"
    assert cfg.log_level == "WARN"
    assert cfg.crawler.use_bloom is True


def test_flags_override_env_and_yaml(tmp_path):
    y = tmp_path / "c.yaml"
    y.write_text("crawler:\n  max_depth: 7\n")
    env = {"SPARKHARVESTER_MAX_DEPTH": "9"}
    cfg = load_config(str(y), env=env,
                      flag_overrides={"crawler.max_depth": 4,
                                      "synth.seed": None})
    assert cfg.crawler.max_depth == 4          # flag beats env beats YAML
    assert cfg.synth.seed == AppSettings().synth.seed  # None = not passed


def test_unknown_yaml_key_fails_loudly(tmp_path):
    y = tmp_path / "c.yaml"
    y.write_text("crawler:\n  max_dpeth: 7\n")
    with pytest.raises(KeyError, match="max_dpeth"):
        load_config(str(y), env={})


@pytest.mark.parametrize(
    "key", ["use_cuckoo", "scalable_cap_window", "rfc_robots", "bloom_fpp"])
def test_removed_crawl_key_fails_loudly(tmp_path, key):
    """Removed options must not be silently accepted: two chose between
    implementations with identical crawls, one picked a synthetic
    robots generator, and one is now a constant."""
    y = tmp_path / "c.yaml"
    y.write_text(f"crawler:\n  {key}: true\n")
    with pytest.raises(KeyError, match=key):
        load_config(str(y), env={})


def test_unknown_flag_override_rejected():
    with pytest.raises(KeyError, match="crawler.nope"):
        load_config(env={}, flag_overrides={"crawler.nope": 1})
