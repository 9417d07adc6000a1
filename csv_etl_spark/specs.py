"""Spec / mapping model — JSON-compatible with the reference's config files.

The reference persists three JSON files (``sources.json``, ``destinations.json``,
``mappings.json``; see reference ``converter_dashboard/models.py:32-267``).  We
keep the exact on-disk shape so a user's existing config loads unchanged, but
deserialize into dataclasses that carry Spark types.

ColumnType semantics follow the reference exactly: types are *declarative
metadata only* — the dynamic path never coerces by type; every value flows as
string (reference ``dynamic.py:298-302``).  ``spark_struct_type`` therefore has
an ``all_string`` mode (scan-time parity) and a typed mode (for typed sinks).
"""

from __future__ import annotations

import fcntl
import json
import os
import threading
from dataclasses import dataclass, field
from enum import Enum
from pathlib import Path
from typing import Any

from pyspark.sql import types as T


class ColumnType(str, Enum):
    # reference converter_dashboard/models.py:10-17
    STRING = "string"
    INTEGER = "integer"
    FLOAT = "float"
    DATE = "date"
    DATETIME = "datetime"
    BOOLEAN = "boolean"
    MONEY = "money"


# SURVEY §1.2 type mapping. money → DoubleType for bit-compatibility with the
# reference (it parses money to Python float, revolut_crypto.py:140-151);
# a DecimalType(38,8) alternative is provided for exact-money pipelines.
_SPARK_TYPE: dict[ColumnType, T.DataType] = {
    ColumnType.STRING: T.StringType(),
    ColumnType.INTEGER: T.LongType(),
    ColumnType.FLOAT: T.DoubleType(),
    ColumnType.DATE: T.DateType(),
    ColumnType.DATETIME: T.TimestampType(),
    ColumnType.BOOLEAN: T.BooleanType(),
    ColumnType.MONEY: T.DoubleType(),
}

EXACT_MONEY_TYPE = T.DecimalType(38, 8)


class TransformType(str, Enum):
    # reference converter_dashboard/models.py:20-29
    DIRECT = "direct"
    CONSTANT = "constant"
    DATE_FORMAT = "date_format"
    LOOKUP = "lookup"
    SUFFIX = "suffix"
    PREFIX = "prefix"
    FORMULA = "formula"
    CONDITIONAL = "conditional"
    # extension beyond the reference (its ROADMAP.md:50 plans "lookup tables
    # from external sources"): key/value lookup against a named external
    # table, compiled to a broadcast left join instead of an in-config map
    LOOKUP_TABLE = "lookup_table"


@dataclass
class ColumnSpec:
    """reference converter_dashboard/models.py:32-64"""

    name: str
    type: ColumnType = ColumnType.STRING
    source_name: str | None = None
    max_length: int | None = None
    required: bool = False
    default: Any = None
    date_format: str | None = None

    @classmethod
    def from_dict(cls, d: dict) -> "ColumnSpec":
        return cls(
            name=d["name"],
            type=ColumnType(d.get("type", "string")),
            source_name=d.get("source_name"),
            max_length=d.get("max_length"),
            required=bool(d.get("required", False)),
            default=d.get("default"),
            date_format=d.get("date_format"),
        )

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "type": self.type.value,
            "source_name": self.source_name,
            "max_length": self.max_length,
            "required": self.required,
            "default": self.default,
            "date_format": self.date_format,
        }

    def spark_field(self, all_string: bool = False) -> T.StructField:
        dtype = T.StringType() if all_string else _SPARK_TYPE[self.type]
        metadata = {
            k: v
            for k, v in {
                "source_name": self.source_name,
                "max_length": self.max_length,
                "required": self.required,
                "default": self.default,
                "date_format": self.date_format,
                "column_type": self.type.value,
            }.items()
            if v is not None
        }
        # `required` is a validation rule in the reference, not nullability
        # enforcement (rows with missing required values still flow; SURVEY §1.1)
        return T.StructField(self.name, dtype, nullable=True, metadata=metadata)


@dataclass
class FileSpec:
    """reference converter_dashboard/models.py:67-102"""

    id: str
    name: str
    columns: list[ColumnSpec] = field(default_factory=list)
    description: str = ""
    default_directory: str = ""
    delimiter: str = ","
    encoding: str = "utf-8"
    has_header: bool = True

    @classmethod
    def from_dict(cls, d: dict) -> "FileSpec":
        return cls(
            id=d["id"],
            name=d.get("name", d["id"]),
            columns=[ColumnSpec.from_dict(c) for c in d.get("columns", [])],
            description=d.get("description", ""),
            default_directory=d.get("default_directory", ""),
            delimiter=d.get("delimiter", ","),
            encoding=d.get("encoding", "utf-8"),
            has_header=bool(d.get("has_header", True)),
        )

    def to_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "description": self.description,
            "default_directory": self.default_directory,
            "columns": [c.to_dict() for c in self.columns],
            "delimiter": self.delimiter,
            "encoding": self.encoding,
            "has_header": self.has_header,
        }

    def spark_schema(self, all_string: bool = True) -> T.StructType:
        """Scan schema. ``all_string=True`` matches reference semantics:
        values flow untyped; casting happens inside compiled transforms."""
        return T.StructType([c.spark_field(all_string=all_string) for c in self.columns])

    def column_names(self) -> list[str]:
        return [c.name for c in self.columns]


@dataclass
class FieldMapping:
    """reference converter_dashboard/models.py:105-135"""

    destination_field: str
    source_field: str | None = None
    transform_type: TransformType = TransformType.DIRECT
    transform_config: dict = field(default_factory=dict)

    @classmethod
    def from_dict(cls, d: dict) -> "FieldMapping":
        try:
            tt = TransformType(d.get("transform_type", "direct"))
        except ValueError:
            # unknown transform types fall through to direct copy, like the
            # reference interpreter (dynamic.py:185)
            tt = TransformType.DIRECT
        return cls(
            destination_field=d["destination_field"],
            source_field=d.get("source_field"),
            transform_type=tt,
            transform_config=d.get("transform_config", {}) or {},
        )

    def to_dict(self) -> dict:
        return {
            "destination_field": self.destination_field,
            "source_field": self.source_field,
            "transform_type": self.transform_type.value,
            "transform_config": self.transform_config,
        }


@dataclass
class ETLMapping:
    """reference converter_dashboard/models.py:138-171.

    The mapping IS the query plan: ``field_mappings`` is the projection,
    ``filter_rules`` the (skip-semantics) predicate.
    """

    id: str
    name: str
    source_id: str = ""
    destination_id: str = ""
    description: str = ""
    field_mappings: list[FieldMapping] = field(default_factory=list)
    filter_rules: list[dict] = field(default_factory=list)
    # extensions beyond the reference (its ROADMAP.md:51 plans "aggregation
    # transforms (sum, count, avg)"): optional post-projection aggregation.
    # ``group_by`` lists DESTINATION fields; each aggregation is
    # {"destination_field", "source_field" (a destination field of the
    # projection; optional for count), "agg": sum|count|avg|min|max}.
    group_by: list[str] = field(default_factory=list)
    aggregations: list[dict] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict) -> "ETLMapping":
        return cls(
            id=d.get("id", d.get("name", "mapping")),
            name=d.get("name", d.get("id", "mapping")),
            source_id=d.get("source_id", ""),
            destination_id=d.get("destination_id", ""),
            description=d.get("description", ""),
            field_mappings=[FieldMapping.from_dict(m) for m in d.get("field_mappings", [])],
            filter_rules=list(d.get("filter_rules", [])),
            group_by=list(d.get("group_by", [])),
            aggregations=list(d.get("aggregations", [])),
        )

    def to_dict(self) -> dict:
        out = {
            "id": self.id,
            "name": self.name,
            "source_id": self.source_id,
            "destination_id": self.destination_id,
            "description": self.description,
            "field_mappings": [m.to_dict() for m in self.field_mappings],
            "filter_rules": self.filter_rules,
        }
        if self.group_by or self.aggregations:
            out["group_by"] = self.group_by
            out["aggregations"] = self.aggregations
        return out

    def destination_fields(self) -> list[str]:
        return [m.destination_field for m in self.field_mappings]


class SpecStore:
    """JSON config store, same three files as the reference
    (``models.py:174-267``) but with mtime-keyed caching instead of reloading
    from disk on every access (SURVEY §4: per-request reload is pure waste)."""

    def __init__(self, config_dir: str | Path):
        self.config_dir = Path(config_dir)
        self._cache: dict[str, tuple[float, dict]] = {}

    def _load(self, filename: str) -> dict:
        path = self.config_dir / filename
        if not path.exists():
            return {}
        mtime = path.stat().st_mtime
        cached = self._cache.get(filename)
        if cached and cached[0] == mtime:
            return cached[1]
        data = json.loads(path.read_text(encoding="utf-8"))
        self._cache[filename] = (mtime, data)
        return data

    def _save(self, filename: str, data: dict) -> None:
        """Write ``data`` to a temp file beside ``filename``, then rename it
        over the file: a reader sees the old file or the new one, never a
        half-written one, and a save that fails leaves the old file."""
        path = self.config_dir / filename
        # one temp name per process and thread, so concurrent saves never
        # share one; created under the umask, like the file it replaces
        tmp = path.with_name(f".{filename}.{os.getpid()}.{threading.get_ident()}.tmp")
        try:
            tmp.write_text(json.dumps(data, indent=2, ensure_ascii=False), encoding="utf-8")
            os.replace(tmp, path)
        except BaseException:
            tmp.unlink(missing_ok=True)
            raise
        self._cache.pop(filename, None)

    def _update(self, filename: str, key: str, value: dict | None) -> bool:
        """Set ``key`` to ``value`` in ``filename`` (delete it when
        ``value`` is None).  The whole read-modify-write runs under an
        exclusive ``flock`` on the config directory and re-reads the file
        under the lock, not from the mtime cache, so concurrent saves from
        threads or processes keep each other's updates.  The directory is
        the lock, so the store adds no file beside its three JSON files.
        Returns False when a deleted key was not there."""
        self.config_dir.mkdir(parents=True, exist_ok=True)
        lock = os.open(self.config_dir, os.O_RDONLY)
        try:
            fcntl.flock(lock, fcntl.LOCK_EX)
            path = self.config_dir / filename
            data = json.loads(path.read_text(encoding="utf-8")) if path.exists() else {}
            if value is not None:
                data[key] = value
            elif key in data:
                del data[key]
            else:
                return False
            self._save(filename, data)
            return True
        finally:
            os.close(lock)

    # -- sources ------------------------------------------------------------
    def sources(self) -> dict[str, FileSpec]:
        return {k: FileSpec.from_dict(v) for k, v in self._load("sources.json").items()}

    def get_source(self, spec_id: str) -> FileSpec | None:
        d = self._load("sources.json").get(spec_id)
        return FileSpec.from_dict(d) if d else None

    def save_source(self, spec: FileSpec) -> None:
        self._update("sources.json", spec.id, spec.to_dict())

    # -- destinations ---------------------------------------------------------
    def destinations(self) -> dict[str, FileSpec]:
        return {k: FileSpec.from_dict(v) for k, v in self._load("destinations.json").items()}

    def get_destination(self, spec_id: str) -> FileSpec | None:
        d = self._load("destinations.json").get(spec_id)
        return FileSpec.from_dict(d) if d else None

    def save_destination(self, spec: FileSpec) -> None:
        self._update("destinations.json", spec.id, spec.to_dict())

    # -- mappings -------------------------------------------------------------
    def mappings(self) -> dict[str, ETLMapping]:
        return {k: ETLMapping.from_dict(v) for k, v in self._load("mappings.json").items()}

    def get_mapping(self, mapping_id: str) -> ETLMapping | None:
        d = self._load("mappings.json").get(mapping_id)
        return ETLMapping.from_dict(d) if d else None

    def save_mapping(self, mapping: ETLMapping) -> None:
        """Unlike the reference's visual editor (which silently wipes
        ``filter_rules``, reference ``templates/mappings/visual.html:551`` —
        a recorded bug we do NOT replicate), this persists the full mapping."""
        self._update("mappings.json", mapping.id, mapping.to_dict())

    # -- deletion (reference models.py delete_* / app.py delete routes) -----
    def delete_source(self, spec_id: str) -> bool:
        return self._update("sources.json", spec_id, None)

    def delete_destination(self, spec_id: str) -> bool:
        return self._update("destinations.json", spec_id, None)

    def delete_mapping(self, mapping_id: str) -> bool:
        return self._update("mappings.json", mapping_id, None)
