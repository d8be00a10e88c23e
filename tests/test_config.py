"""F13 config validation surface (reference `src/floorist/config.py:25-105`,
pinned by `tests/test_floorist.py:45-105`)."""

from __future__ import annotations

from datetime import date

import pytest

from floorist_spark.config import base_output_uri, get_config, s3a_conf

FULL_ENV = {
    "AWS_BUCKET": "bucket",
    "AWS_ENDPOINT": "http://localhost:9000",
    "AWS_ACCESS_KEY_ID": "ak",
    "AWS_SECRET_ACCESS_KEY": "sk",
    "AWS_REGION": "us-east-1",
    "POSTGRES_SERVICE_HOST": "db",
    "POSTGRESQL_DATABASE": "insights",
    "POSTGRESQL_USER": "user",
    "POSTGRESQL_PASSWORD": "pw",
}


@pytest.fixture
def env(monkeypatch, tmp_path):
    plan = tmp_path / "floorplan.yaml"
    plan.write_text("- prefix: p\n  query: SELECT 1\n")
    for k, v in FULL_ENV.items():
        monkeypatch.setenv(k, v)
    monkeypatch.setenv("FLOORPLAN_FILE", str(plan))
    monkeypatch.delenv("FLOORIST_OUTPUT_URI", raising=False)
    monkeypatch.delenv("FLOORIST_JDBC_URL", raising=False)
    monkeypatch.delenv("FLOORIST_JDBC_DRIVER", raising=False)
    for var in ("FLOORIST_MODE", "FLOORIST_DATA_DIR", "FLOORIST_RUN_DATE"):
        monkeypatch.delenv(var, raising=False)
    return monkeypatch


def test_full_env_resolves(env):
    cfg = get_config()
    assert cfg.bucket_name == "bucket"
    assert cfg.bucket_url == "http://localhost:9000"
    assert cfg.database_hostname == "db"
    assert cfg.floorplan_filename.endswith("floorplan.yaml")


def test_missing_floorplan_file_env(env):
    env.delenv("FLOORPLAN_FILE")
    with pytest.raises(ValueError, match="Floorplan filename not defined!"):
        get_config()


def test_unreadable_floorplan_file(env):
    env.setenv("FLOORPLAN_FILE", "/nonexistent/plan.yaml")
    with pytest.raises(IOError, match="does not exist or is not readable"):
        get_config()


def test_missing_bucket(env):
    env.delenv("AWS_BUCKET")
    with pytest.raises(ValueError, match="Bucket name not configured"):
        get_config()


@pytest.mark.parametrize(
    ("var", "message"),
    [
        ("POSTGRES_SERVICE_HOST", "Database host not defined"),
        ("POSTGRESQL_DATABASE", "Database name not defined"),
        ("POSTGRESQL_USER", "Database user not defined"),
        ("POSTGRESQL_PASSWORD", "Database password not defined"),
        ("AWS_ENDPOINT", "Bucket endpoint not defined"),
    ],
)
def test_jdbc_mode_requires_database_fields(env, var, message):
    env.delenv(var)
    with pytest.raises(ValueError, match=message):
        get_config(mode="jdbc")


def test_jdbc_url_override_skips_postgres_requirements(env):
    # FLOORIST_JDBC_URL points at any JDBC database (credentials live in the
    # URL), so the POSTGRES_* requirements are waived — this is how the
    # embedded-Derby e2e runs the reference's jdbc path with no server.
    for var in ("POSTGRES_SERVICE_HOST", "POSTGRESQL_DATABASE", "POSTGRESQL_USER",
                "POSTGRESQL_PASSWORD", "AWS_ENDPOINT"):
        env.delenv(var)
    env.setenv("FLOORIST_JDBC_URL", "jdbc:derby:memory:db")
    env.setenv("FLOORIST_JDBC_DRIVER", "org.apache.derby.jdbc.EmbeddedDriver")
    cfg = get_config(mode="jdbc")
    assert cfg.jdbc_url == "jdbc:derby:memory:db"
    assert cfg.jdbc_driver == "org.apache.derby.jdbc.EmbeddedDriver"


def test_native_mode_does_not_require_database(env):
    for var in ("POSTGRES_SERVICE_HOST", "POSTGRESQL_DATABASE", "POSTGRESQL_USER",
                "POSTGRESQL_PASSWORD", "AWS_ENDPOINT"):
        env.delenv(var)
    cfg = get_config(mode="native")
    assert cfg.mode == "native"


def test_mode_defaults_to_native(env):
    assert get_config().mode == "native"
    env.setenv("FLOORIST_MODE", "jdbc")
    assert get_config().mode == "jdbc"
    assert get_config(mode="native").mode == "native"  # the argument wins


def test_unknown_mode_raises(env):
    env.setenv("FLOORIST_MODE", "postgres")
    with pytest.raises(ValueError, match="FLOORIST_MODE must be one of native, jdbc, got 'postgres'"):
        get_config()


def test_run_date_and_data_dir_resolve(env, tmp_path):
    env.setenv("FLOORIST_RUN_DATE", "2025-02-03")
    env.setenv("FLOORIST_DATA_DIR", str(tmp_path))
    cfg = get_config()
    assert cfg.run_date == date(2025, 2, 3)
    assert cfg.data_dir == str(tmp_path)


@pytest.mark.parametrize("text", ["2025-13-01", "20250203", "2025-2-3", "yesterday"])
def test_malformed_run_date_names_the_variable(env, text):
    env.setenv("FLOORIST_RUN_DATE", text)
    with pytest.raises(ValueError, match=f"FLOORIST_RUN_DATE must be a YYYY-MM-DD date, got '{text}'"):
        get_config()


def test_missing_data_dir_names_the_variable(env, tmp_path):
    env.setenv("FLOORIST_DATA_DIR", str(tmp_path / "no_such_dir"))
    with pytest.raises(ValueError, match="FLOORIST_DATA_DIR .* is not a directory"):
        get_config()


def test_endpoint_scheme_defaulting(env):
    # reference config.py:43-48: scheme-less endpoints get https://
    env.setenv("AWS_ENDPOINT", "minio.example.com:9000")
    assert get_config().bucket_url == "https://minio.example.com:9000"


def test_output_uri_override(env):
    env.setenv("FLOORIST_OUTPUT_URI", "file:///tmp/out/")
    cfg = get_config(mode="native")
    assert base_output_uri(cfg) == "file:///tmp/out"


def test_base_output_uri_defaults_to_s3a_bucket(env):
    assert base_output_uri(get_config()) == "s3a://bucket"


def test_s3a_conf_mapping(env):
    conf = s3a_conf(get_config())
    assert conf["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "sk"
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://localhost:9000"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"


# -- Clowder branch (reference config.py:59-71, tested at
# -- tests/test_floorist.py via the app-common-python package) -------------


class _ClowderDb:
    name = "clowder_db"
    hostname = "clowder_host"
    username = "clowder_user"
    password = "clowder_pw"


class _ClowderLoadedConfig:
    database = _ClowderDb()


def test_clowder_database_config_wins_over_env(env, monkeypatch):
    # When Clowder is enabled, database settings come from LoadedConfig and
    # the POSTGRESQL_* env vars (still set by the `env` fixture) must NOT
    # be consulted — exactly the reference's branch order
    # (`src/floorist/config.py:59-71`). Stubbed at the module globals the
    # import-gate bound, so the test runs without app-common-python
    # installed.
    import floorist_spark.config as cfgmod

    monkeypatch.setattr(cfgmod, "isClowderEnabled", lambda: True)
    monkeypatch.setattr(cfgmod, "LoadedConfig", _ClowderLoadedConfig)
    cfg = get_config(mode="jdbc")
    assert cfg.database_hostname == "clowder_host"
    assert cfg.database_name == "clowder_db"
    assert cfg.database_username == "clowder_user"
    assert cfg.database_password == "clowder_pw"
    # bucket/floorplan resolution is unchanged by the Clowder branch
    assert cfg.bucket_name == "bucket"


def test_clowder_import_path_binds_stub_module(env, monkeypatch):
    # Cover the SUCCESSFUL `from app_common_python import ...` path by
    # reloading the module with a stub installed in sys.modules, then
    # restore the real (ImportError-fallback) state for the rest of the
    # suite.
    import importlib
    import sys
    import types

    import floorist_spark.config as cfgmod

    fake = types.ModuleType("app_common_python")
    fake.LoadedConfig = _ClowderLoadedConfig
    fake.isClowderEnabled = lambda: True
    sys.modules["app_common_python"] = fake
    try:
        importlib.reload(cfgmod)
        cfg = cfgmod.get_config(mode="jdbc")
        assert cfg.database_hostname == "clowder_host"
    finally:
        del sys.modules["app_common_python"]
        importlib.reload(cfgmod)
    assert cfgmod.isClowderEnabled() is False  # fallback restored
