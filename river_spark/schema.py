"""Schema kernel: the reference's seven-type field system.

Parity targets (all citations into /root/reference/):
- Type enum + fixed sizes: ``cpp/src/schema.h:29-37``, size defaults from the
  Python binding ``python/river.pyx:85-104``.
- JSON wire format ``{"field_definitions":[{"name","size","type"}...]}``:
  serialize ``cpp/src/schema.cpp:12-48``, parse ``cpp/src/schema.cpp:50-85``.
- Invariants: a VARIABLE_WIDTH_BYTES field must be the stream's only field
  (``cpp/src/writer.cpp:62-64``); no nulls anywhere (ingester builds
  non-nullable Arrow fields, ``cpp/ingester/src/ingester.cpp:729-760``);
  stream names < 256 chars (``cpp/src/writer.cpp:44-47``).
- NumPy structured-dtype round trip: ``python/river.pyx:162-226``.
- Spark mapping per SURVEY.md §1.2.
"""

from __future__ import annotations

import enum
import json
from dataclasses import dataclass

import numpy as np
from pyspark.sql import types as T


class FieldType(enum.Enum):
    DOUBLE = "DOUBLE"
    FLOAT = "FLOAT"
    INT16 = "INT16"
    INT32 = "INT32"
    INT64 = "INT64"
    FIXED_WIDTH_BYTES = "FIXED_WIDTH_BYTES"
    VARIABLE_WIDTH_BYTES = "VARIABLE_WIDTH_BYTES"


# Fixed sizes the binding fills in when omitted (python/river.pyx:85-104).
_DEFAULT_SIZES = {
    FieldType.DOUBLE: 8,
    FieldType.FLOAT: 4,
    FieldType.INT16: 2,
    FieldType.INT32: 4,
    FieldType.INT64: 8,
}

_NUMPY_DTYPES = {
    FieldType.DOUBLE: np.dtype(np.float64),
    FieldType.FLOAT: np.dtype(np.float32),
    FieldType.INT16: np.dtype(np.int16),
    FieldType.INT32: np.dtype(np.int32),
    FieldType.INT64: np.dtype(np.int64),
}

_SPARK_TYPES = {
    FieldType.DOUBLE: T.DoubleType(),
    FieldType.FLOAT: T.FloatType(),
    FieldType.INT16: T.ShortType(),
    FieldType.INT32: T.IntegerType(),
    FieldType.INT64: T.LongType(),
    FieldType.FIXED_WIDTH_BYTES: T.BinaryType(),
    FieldType.VARIABLE_WIDTH_BYTES: T.BinaryType(),
}


class SchemaError(ValueError):
    pass


@dataclass(frozen=True)
class FieldDefinition:
    name: str
    type: FieldType
    size: int | None = None

    def __post_init__(self):
        if not self.name:
            raise SchemaError("field name must be non-empty")
        size = self.size
        if size is None:
            size = _DEFAULT_SIZES.get(self.type)
            if size is None:
                raise SchemaError(f"size required for {self.type.name}")
        elif self.type in _DEFAULT_SIZES and size != _DEFAULT_SIZES[self.type]:
            raise SchemaError(
                f"{self.type.name} has fixed size {_DEFAULT_SIZES[self.type]}, got {size}"
            )
        if size <= 0:
            raise SchemaError(f"field size must be positive, got {size}")
        object.__setattr__(self, "size", size)


class StreamSchema:
    """Ordered list of field definitions; one schema per stream lifetime."""

    def __init__(self, field_definitions: list[FieldDefinition]):
        if not field_definitions:
            raise SchemaError("schema requires at least one field")
        names = [f.name for f in field_definitions]
        if len(set(names)) != len(names):
            raise SchemaError(f"duplicate field names: {names}")
        has_var = any(f.type is FieldType.VARIABLE_WIDTH_BYTES for f in field_definitions)
        # Reference: variable-width field must be the sole field
        # (cpp/src/writer.cpp:62-64, doc cpp/src/schema.h:19-22).
        if has_var and len(field_definitions) != 1:
            raise SchemaError("a VARIABLE_WIDTH_BYTES field must be the stream's only field")
        # A schema is fixed for its lifetime (nothing mutates
        # ``field_definitions``), so the facts every read and batch ask
        # for are computed once here, not per call.
        self.field_definitions = list(field_definitions)
        self._has_var = has_var
        self._dtype = np.dtype(
            [
                (f.name, _NUMPY_DTYPES.get(f.type, np.dtype((np.void, f.size))))
                for f in field_definitions
            ]
        )

    # -- core properties ---------------------------------------------------
    def sample_size(self) -> int:
        """Σ field sizes (cpp/src/schema.h:76-81). For variable-width this is
        the declared max size, as in the reference."""
        return sum(f.size for f in self.field_definitions)

    @property
    def has_variable_width_field(self) -> bool:
        return self._has_var

    def field_names(self) -> list[str]:
        return [f.name for f in self.field_definitions]

    # -- JSON wire format (cpp/src/schema.cpp:12-85) ------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "field_definitions": [
                    {"name": f.name, "size": f.size, "type": f.type.value}
                    for f in self.field_definitions
                ]
            }
        )

    @classmethod
    def from_json(cls, s: str) -> StreamSchema:
        obj = json.loads(s)
        try:
            raw = obj["field_definitions"]
        except (KeyError, TypeError):
            raise SchemaError(f"missing field_definitions in {s!r}")
        fields = []
        try:
            for fd in raw:
                ftype = FieldType(fd["type"])
                fields.append(
                    FieldDefinition(name=fd["name"], type=ftype, size=int(fd["size"]))
                )
        except (KeyError, TypeError, ValueError) as exc:
            # metadata arrives over the wire (a foreign or corrupted
            # stream's Redis hash); surface a diagnosable SchemaError,
            # not a bare KeyError from a malformed entry
            raise SchemaError(f"malformed field definition in {s!r}: {exc}") from exc
        return cls(fields)

    # -- NumPy structured dtype round trip (python/river.pyx:162-226) -------
    def dtype(self) -> np.dtype:
        return self._dtype

    @classmethod
    def from_dtype(cls, dtype: np.dtype) -> StreamSchema:
        if dtype.names is None:
            raise SchemaError("expected a structured dtype")
        fields = []
        for name in dtype.names:
            sub = dtype.fields[name][0]
            for ftype, nd in _NUMPY_DTYPES.items():
                if sub == nd:
                    fields.append(FieldDefinition(name=name, type=ftype))
                    break
            else:
                if sub.kind == "V":
                    fields.append(
                        FieldDefinition(name=name, type=FieldType.FIXED_WIDTH_BYTES, size=sub.itemsize)
                    )
                else:
                    raise SchemaError(f"unsupported dtype {sub} for field {name}")
        return cls(fields)

    # -- Spark StructType mapping (SURVEY.md §1.2/§1.4) ----------------------
    def to_struct_type(self, include_system_columns: bool = False) -> T.StructType:
        """Non-nullable fields, mirroring the ingester's Arrow schema
        (cpp/ingester/src/ingester.cpp:727-764). With
        ``include_system_columns`` the three prepended ingestion columns are
        included (ingester.cpp:296-326)."""
        fields = []
        if include_system_columns:
            fields += [
                T.StructField("sample_index", T.LongType(), False),
                T.StructField("key", T.StringType(), False),
                T.StructField("timestamp_ms", T.LongType(), False),
            ]
        for f in self.field_definitions:
            fields.append(T.StructField(f.name, _SPARK_TYPES[f.type], False))
        return T.StructType(fields)

    @classmethod
    def from_struct_type(cls, st: T.StructType) -> StreamSchema:
        rev = {
            T.DoubleType(): FieldType.DOUBLE,
            T.FloatType(): FieldType.FLOAT,
            T.ShortType(): FieldType.INT16,
            T.IntegerType(): FieldType.INT32,
            T.LongType(): FieldType.INT64,
        }
        # Strip the ingestion system columns ONLY when the full trio is
        # present (an ingested frame fed back in). Skipping by bare name
        # would silently drop a USER column that happens to be called
        # 'key' — schema/data loss with no error on the sink create path.
        names = {sf.name for sf in st.fields}
        system = (
            {"sample_index", "key", "timestamp_ms"}
            if {"sample_index", "key", "timestamp_ms"} <= names
            else set()
        )
        fields = []
        for sf in st.fields:
            if sf.name in system:
                continue
            if sf.dataType in rev:
                fields.append(FieldDefinition(name=sf.name, type=rev[sf.dataType]))
            elif isinstance(sf.dataType, T.BinaryType):
                # BinaryType cannot distinguish the two byte field types and
                # carries no width; only the sole-field variable-width shape
                # is inferable (its size is a max-size hint, not a layout).
                if len(st.fields) - len(system) > 1:
                    raise SchemaError(
                        f"binary field {sf.name!r} in a multi-field schema: "
                        "FIXED_WIDTH_BYTES needs an explicit size — declare a "
                        "StreamSchema instead of inferring from a StructType"
                    )
                fields.append(
                    FieldDefinition(name=sf.name, type=FieldType.VARIABLE_WIDTH_BYTES, size=1)
                )
            else:
                raise SchemaError(f"unsupported Spark type {sf.dataType} for field {sf.name}")
        return cls(fields)

    # -- misc ----------------------------------------------------------------
    def __eq__(self, other):
        return (
            isinstance(other, StreamSchema)
            and self.field_definitions == other.field_definitions
        )

    def __repr__(self):
        inner = ", ".join(f"{f.name}:{f.type.value}({f.size})" for f in self.field_definitions)
        return f"StreamSchema[{inner}]"


MAX_STREAM_NAME_LEN = 255  # cpp/src/writer.cpp:44-47


def validate_stream_name(name: str) -> None:
    if not name or len(name) > MAX_STREAM_NAME_LEN:
        raise SchemaError(f"stream name must be 1..{MAX_STREAM_NAME_LEN} chars: {name!r}")
    # Names become filesystem path components on the file backend: a '/'
    # (or '..') would write segments outside the log root or nest them
    # where list_streams can never find them — written but never
    # ingestable. NUL is invalid in both filenames and redis keys.
    if "/" in name or "\\" in name or "\x00" in name or name in (".", ".."):
        raise SchemaError(f"stream name must not contain path separators: {name!r}")
