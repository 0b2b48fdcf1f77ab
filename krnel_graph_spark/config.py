"""Engine configuration (parity: reference ``src/krnel/graph/config.py``).

Configuration sources in priority order:

1. Constructor kwargs
2. Environment variables (``KRNEL_SPARK_STORE_URI``, ``KRNEL_SPARK_RUNNER_TYPE``, …)
3. JSON config file (``~/.config/krnel_graph_spark/config.json``; override
   the location with ``KRNEL_SPARK_CONFIG_FILE`` — tests rely on this)
4. Defaults

Defaults that point at the shared temp dir are namespaced per-user: a
world-readable ``/tmp/krnel_graph_spark`` shared by every account on a
multi-user box would let one user's cache/done markers shadow another's.
"""

from __future__ import annotations

import getpass
import os
import tempfile
from pathlib import Path

from pydantic import Field
from pydantic_settings import (
    BaseSettings,
    JsonConfigSettingsSource,
    PydanticBaseSettingsSource,
    SettingsConfigDict,
)


def _user_suffix() -> str:
    try:
        return getpass.getuser()
    except (KeyError, OSError):  # no passwd entry (containers)
        return f"uid{os.getuid()}" if hasattr(os, "getuid") else "user"


def default_config_file() -> Path:
    override = os.environ.get("KRNEL_SPARK_CONFIG_FILE")
    if override:
        return Path(override)
    base = os.environ.get("XDG_CONFIG_HOME") or str(Path.home() / ".config")
    return Path(base) / "krnel_graph_spark" / "config.json"


class KrnelGraphSparkConfig(BaseSettings):
    """Settings for runners and the Spark session."""

    model_config = SettingsConfigDict(
        env_prefix="KRNEL_SPARK_",
        case_sensitive=False,
        extra="ignore",
        json_file=default_config_file(),
    )

    runner_type: str = Field(
        default="SparkRunner",
        description="Runner class to construct ('SparkRunner', 'LocalCachedRunner')",
    )

    store_uri: str = Field(
        default=str(
            Path(tempfile.gettempdir()) / f"krnel_graph_spark_{_user_suffix()}"
        ),
        description="Where materialized op results are stored (shared path at scale)",
    )

    cache_path: Path = Field(
        default=Path(tempfile.gettempdir())
        / f"krnel_graph_spark_cache_{_user_suffix()}",
        description="Local cache directory (runner_type=LocalCachedRunner only)",
    )

    def save(self) -> Path:
        """Write the non-default fields to the JSON config file."""
        config_path = default_config_file()
        config_path.parent.mkdir(parents=True, exist_ok=True)
        tmp = config_path.with_suffix(f".tmp-{os.getpid()}")
        tmp.write_text(self.model_dump_json(exclude_defaults=True, indent=4) + "\n")
        tmp.replace(config_path)
        return config_path

    @classmethod
    def settings_customise_sources(
        cls,
        settings_cls: type[BaseSettings],
        init_settings: PydanticBaseSettingsSource,
        env_settings: PydanticBaseSettingsSource,
        dotenv_settings: PydanticBaseSettingsSource,
        file_secret_settings: PydanticBaseSettingsSource,
    ) -> tuple[PydanticBaseSettingsSource, ...]:
        # Same precedence as the reference: init > env > secrets > json file.
        # The json_file is re-resolved per construction so KRNEL_SPARK_CONFIG_FILE
        # set after import (tests, subprocesses) still takes effect.
        cls.model_config["json_file"] = default_config_file()
        return (
            init_settings,
            env_settings,
            file_secret_settings,
            JsonConfigSettingsSource(settings_cls),
        )
