"""Engine configuration (reference config/application.yaml:1-14 +
config/configure_notebook.py — SURVEY.md §0).

The reference loads a YAML of table paths / model name / executor count.
Same shape here, as a typed dataclass holding only what the train
pipeline reads: defaults work out of the box, and a YAML file overrides
them when present (pyyaml optional — the engine has no hard dependency on
it). Unknown YAML keys, such as the reference's table paths, are ignored.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class EngineConfig:
    # model (reference application.yaml:5-13)
    model_name: str = "merchcat"
    model_path: str = "/tmp/mcs_models"
    #: concurrent grid-search trials (the reference's executors=20)
    tuning_parallelism: int = 20

    # sampling policy (reference 01_merchcat_etl.py:159, 02_merchcat_ml.py:541)
    sample_size: int = 5000
    count_threshold: int = 100
    test_fraction: float = 0.1
    seed: int = 42


def load_config(path: str | None = None) -> EngineConfig:
    """Config from YAML when given/available, else defaults."""
    cfg = EngineConfig()
    if path is None:
        return cfg
    try:
        import yaml  # optional dependency
    except ImportError as e:  # pragma: no cover
        raise RuntimeError("pyyaml not installed; pass no path for defaults") from e
    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    for key, value in raw.items():
        if hasattr(cfg, key):
            setattr(cfg, key, value)
    return cfg
