from merchant_classification_spark.config import load_config


def test_defaults():
    cfg = load_config()
    assert cfg.model_name == "merchcat"
    assert cfg.sample_size == 5000
    assert cfg.count_threshold == 100
    assert cfg.test_fraction == 0.1


def test_yaml_override(tmp_path):
    p = tmp_path / "app.yaml"
    # train_path: a reference application.yaml key EngineConfig does not carry
    p.write_text(
        "model_name: custom\nsample_size: 123\nunknown_key: ignored\n"
        "train_path: /data/train\n"
    )
    cfg = load_config(str(p))
    assert cfg.model_name == "custom"
    assert cfg.sample_size == 123
    assert not hasattr(cfg, "unknown_key")
    assert not hasattr(cfg, "train_path")
