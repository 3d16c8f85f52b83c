"""YAML configuration — same user-facing schema as the reference
(``configuration.go:11-23``): a ``db`` block with
``type/host/port/user/password/name/schema``.

The reference loads it once into a singleton (``configuration.go:25-69``,
``sync.Once``); we keep a plain loader plus an optional module-level
cached accessor for parity with the reference's get-after-load semantics
(tested in ``configuration_test.go:31-77``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

try:  # pyyaml is present in most Spark images; degrade gracefully.
    import yaml  # type: ignore

    _HAVE_YAML = True
except Exception:  # pragma: no cover
    _HAVE_YAML = False

@dataclass
class DbConfig:
    type: str = ""
    host: str = ""
    port: int = 0
    user: str = ""
    password: str = ""
    name: str = ""
    # The reference treats `schema` as a raw SQL prefix including the
    # trailing dot (README.md:28, e.g. "hoge."); we keep that contract.
    schema: str = ""
    # Generic-JDBC extension beyond the reference's 3 dialects: an
    # explicit connection URL (embedded/bespoke sources, e.g.
    # ``jdbc:derby:/path/db``) overrides dialect URL building, and an
    # explicit driver class overrides the dialect driver table.  With
    # ``url`` set, ``type`` is free-form (used only for identifier
    # quoting, which falls back to the SQL standard).
    url: str = ""
    driver: str = ""

    def jdbc_url(self) -> str:
        """Dialect connection string (reference: db_impl.go:30-44), or
        the explicit ``url`` override for generic JDBC sources."""
        if self.url:
            return self.url
        if self.type == "postgresql":
            return f"jdbc:postgresql://{self.host}:{self.port}/{self.name}"
        if self.type == "mysql":
            return f"jdbc:mysql://{self.host}:{self.port}/{self.name}"
        if self.type == "sqlserver":
            return (
                f"jdbc:sqlserver://{self.host}:{self.port};databaseName={self.name}"
            )
        raise ValueError(f"unsupported db type: {self.type!r}")

    def jdbc_properties(self) -> dict[str, str]:
        driver = self.driver or {
            "postgresql": "org.postgresql.Driver",
            "mysql": "com.mysql.cj.jdbc.Driver",
            "sqlserver": "com.microsoft.sqlserver.jdbc.SQLServerDriver",
        }.get(self.type)
        props = {"user": self.user, "password": self.password}
        if driver:
            props["driver"] = driver
        if self.type == "mysql":
            # Connector/J IGNORES a positive setFetchSize unless
            # useCursorFetch=true (server-side cursors; the only other
            # streaming mode is the magic fetchsize=Integer.MIN_VALUE
            # row-streaming hack) — without it every partition buffers
            # its whole result set in executor memory regardless of the
            # fetchsize option the readers pass (ADVICE r7)
            props["useCursorFetch"] = "true"
        return props


@dataclass
class Configuration:
    db: DbConfig = field(default_factory=DbConfig)
    # Engine extensions beyond the reference surface:
    snapshot_dir: str = ""
    keys: dict[str, list[str]] = field(default_factory=dict)  # file-source key override


class ConfigurationError(Exception):
    pass


def _parse_minimal_yaml(text: str) -> dict:
    """Tiny two-level `key: value` YAML subset parser (fallback when
    pyyaml is unavailable). Raises on lines that are not YAML-ish —
    mirroring the reference's invalid-config test case."""
    root: dict = {}
    current = root
    for raw in text.splitlines():
        line = raw.rstrip()
        if not line or line.lstrip().startswith("#"):
            continue
        indented = line.startswith((" ", "\t"))
        if ":" not in line:
            raise ConfigurationError(f"invalid yaml line: {raw!r}")
        key, _, value = line.strip().partition(":")
        value = value.strip().strip("'\"")
        if value.startswith(("[", "{")):
            raise ConfigurationError(
                "the minimal YAML fallback parser does not support flow "
                f"sequences/mappings ({raw!r}); install pyyaml"
            )
        if not indented:
            if value == "":
                current = {}
                root[key.strip()] = current
            else:
                root[key.strip()] = value
                current = root
        else:
            current[key.strip()] = value
    return root


def load_configuration(path: str | Path) -> Configuration:
    """Load and validate a config file (reference: configuration.go:50-69;
    error cases mirrored from configuration_test.go:19-29 — missing file,
    invalid YAML, empty path)."""
    if not path:
        raise ConfigurationError("configuration path is empty")
    p = Path(path)
    if not p.is_file():
        raise ConfigurationError(f"configuration file not found: {p}")
    text = p.read_text()
    if _HAVE_YAML:
        try:
            data = yaml.safe_load(text)
        except Exception as e:  # invalid YAML
            raise ConfigurationError(f"invalid configuration: {e}") from e
    else:  # pragma: no cover
        data = _parse_minimal_yaml(text)
    if not isinstance(data, dict) or "db" not in data or not isinstance(data["db"], dict):
        raise ConfigurationError("configuration must contain a 'db' mapping")
    db_raw = data["db"]
    db = DbConfig(
        type=str(db_raw.get("type", "")),
        host=str(db_raw.get("host", "")),
        port=int(db_raw.get("port", 0) or 0),
        user=str(db_raw.get("user", "")),
        password=str(db_raw.get("password", "")),
        name=str(db_raw.get("name", "")),
        schema=str(db_raw.get("schema", "") or ""),
        url=str(db_raw.get("url", "") or ""),
        driver=str(db_raw.get("driver", "") or ""),
    )
    keys = {
        str(t): [str(c) for c in cols]
        for t, cols in (data.get("keys") or {}).items()
    }
    return Configuration(
        db=db, snapshot_dir=str(data.get("snapshot_dir", "") or ""), keys=keys
    )


_CACHED: Configuration | None = None


def get_configuration() -> Configuration:
    """Singleton accessor (reference get-before-load returns an empty
    config — configuration_test.go:31-47; we mirror that)."""
    return _CACHED if _CACHED is not None else Configuration()


def load_configuration_once(path: str | Path) -> Configuration:
    """Load-once memoization (reference: sync.Once, configuration.go:25-33)."""
    global _CACHED
    if _CACHED is None:
        _CACHED = load_configuration(path)
    return _CACHED


def reset_configuration() -> None:
    """Test hook — the reference resets its singleton between test cases."""
    global _CACHED
    _CACHED = None
