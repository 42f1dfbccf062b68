"""Type system: the reference's closed 14-scalar TensorType enum
mapped onto Spark types (SURVEY.md §1.2).

Reference: ella-common/src/tensor_type.rs:20-57 defines the enum and
its Arrow mappings. Spark has no unsigned ints and only µs timestamps,
so unsigned types widen (original recorded in column metadata for
round-trip) and Timestamp/Duration are stored as epoch-ns LongType
(ella-common/src/time.rs:28-45 semantics, lossless).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

#: TensorType name -> (spark type, widened: bool)
#: Widening per SURVEY.md §1.2: u8→Short, u16→Int, u32→Long,
#: u64→Decimal(20,0).
TENSOR_TYPES: dict[str, tuple[DataType, bool]] = {
    "bool": (BooleanType(), False),
    "int8": (ByteType(), False),
    "int16": (ShortType(), False),
    "int32": (IntegerType(), False),
    "int64": (LongType(), False),
    "uint8": (ShortType(), True),
    "uint16": (IntegerType(), True),
    "uint32": (LongType(), True),
    "uint64": (DecimalType(20, 0), True),
    "float32": (FloatType(), False),
    "float64": (DoubleType(), False),
    "timestamp": (LongType(), True),  # epoch ns (reference: Timestamp(ns, UTC))
    "duration": (LongType(), True),  # ns (reference: Duration(ns))
    "string": (StringType(), False),
}

#: Column-metadata keys (mirrors the reference's
#: ARROW:extension:name="arrow.fixed_shape_tensor" + {"shape": [...]}
#: encoding, ella-tensor/src/arrow.rs:29-88).
META_TENSOR_SHAPE = "tensor_shape"
META_ORIGINAL_TYPE = "ella_type"

#: The mandatory leading time column (ella-engine/src/table/info.rs:397-424;
#: name default "time", README.md:124). Stored as epoch-ns LongType.
TIME_COLUMN = "time"


@dataclass
class Column:
    """Topic column declaration.

    Mirrors `ella.column(name, dtype, required, row_shape)`
    (pyella/src/table.rs:164-180; ella-engine/src/table.rs:218-223).
    A non-None ``row_shape`` makes this a tensor column: stored as
    ArrayType(element) flattened row-major with the shape in field
    metadata (ella-tensor/src/column.rs:137-155 parity).
    """

    name: str
    dtype: str
    required: bool = False
    row_shape: tuple[int, ...] | None = None

    def __post_init__(self) -> None:
        if self.dtype not in TENSOR_TYPES:
            raise ValueError(
                f"unknown dtype {self.dtype!r}; valid: {sorted(TENSOR_TYPES)}"
            )
        if self.row_shape is not None:
            self.row_shape = tuple(int(d) for d in self.row_shape)
            if any(d <= 0 for d in self.row_shape):
                raise ValueError(f"row_shape must be positive, got {self.row_shape}")

    @property
    def flat_size(self) -> int | None:
        return math.prod(self.row_shape) if self.row_shape is not None else None

    def to_struct_field(self) -> StructField:
        spark_type, widened = TENSOR_TYPES[self.dtype]
        metadata: dict = {}
        if widened:
            metadata[META_ORIGINAL_TYPE] = self.dtype
        if self.row_shape is not None:
            metadata[META_TENSOR_SHAPE] = list(self.row_shape)
            spark_type = ArrayType(spark_type, containsNull=False)
        return StructField(
            self.name, spark_type, nullable=not self.required, metadata=metadata
        )

    @classmethod
    def from_struct_field(cls, f: StructField) -> "Column":
        meta = f.metadata or {}
        shape = meta.get(META_TENSOR_SHAPE)
        original = meta.get(META_ORIGINAL_TYPE)
        dtype_obj = f.dataType.elementType if shape else f.dataType
        if original:
            dtype = original
        else:
            dtype = _spark_to_tensor_type(dtype_obj)
        return cls(
            name=f.name,
            dtype=dtype,
            required=not f.nullable,
            row_shape=tuple(shape) if shape else None,
        )

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "dtype": self.dtype,
            "required": self.required,
            "row_shape": list(self.row_shape) if self.row_shape else None,
        }

    @classmethod
    def from_json(cls, d: dict) -> "Column":
        return cls(
            name=d["name"],
            dtype=d["dtype"],
            required=d.get("required", False),
            row_shape=tuple(d["row_shape"]) if d.get("row_shape") else None,
        )


def _spark_to_tensor_type(t: DataType) -> str:
    for name, (st, widened) in TENSOR_TYPES.items():
        if not widened and st == t:
            return name
    raise ValueError(f"no TensorType mapping for Spark type {t}")


def topic_schema(columns: list[Column], time_name: str = TIME_COLUMN) -> StructType:
    """Build the topic StructType with the time column auto-prepended
    as required + primary index member, exactly like
    TopicBuilder (info.rs:397-424): a user-supplied column named
    ``time_name`` is hoisted to position 0 and forced required.
    """
    cols = list(columns)
    explicit = [c for c in cols if c.name == time_name]
    if explicit:
        tc = explicit[0]
        if tc.dtype != "timestamp" or tc.row_shape is not None:
            raise ValueError(f"column {time_name!r} must be a scalar timestamp")
        tc = Column(tc.name, tc.dtype, required=True)
        rest = [c for c in cols if c.name != time_name]
    else:
        tc = Column(time_name, "timestamp", required=True)
        rest = cols
    names = [c.name for c in rest]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate column names: {names}")
    return StructType([tc.to_struct_field()] + [c.to_struct_field() for c in rest])


@dataclass
class TopicInfo:
    """Declarative topic schema, pyella's ``ella.topic(...)`` analog
    (pyella/src/table.rs:91-110): columns + temporary flag + extra
    ``(column, ascending)`` indexes, consumed by
    ``Ella.table(name).or_create(info)`` / ``.replace(info)``."""

    columns: list[Column]
    temporary: bool = False
    index: list[tuple[str, bool]] = field(default_factory=list)


def topic(
    columns: list[Column],
    temporary: bool = False,
    index: list[tuple[str, bool]] | None = None,
) -> TopicInfo:
    """pyella parity: declare a topic schema (table.rs:91-110)."""
    return TopicInfo(
        columns=list(columns), temporary=temporary, index=list(index or [])
    )


def column(
    name: str,
    dtype: str,
    required: bool = False,
    row_shape: tuple[int, ...] | None = None,
) -> Column:
    """pyella parity: declare a column (table.rs:164-180)."""
    return Column(name, dtype, required=required, row_shape=row_shape)


def now() -> int:
    """Current time as an epoch-ns int — the reference's native
    timestamp representation and its recommended way to stamp rows
    (pyella lib.rs ``now()``; ella-common/src/time.rs:28-45)."""
    import time as _time

    return _time.time_ns()
