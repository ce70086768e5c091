"""JSON field extraction — the reference's P1 operator.

The reference parses each record with json-simple and extracts root-level
``uid``, mapping malformed JSON to "" then filtering
(UniqueUsersApp.java:206-216,113-114).  Spark-first: ``get_json_object`` /
``from_json`` run JVM-side inside codegen; malformed input yields NULL,
which we filter explicitly instead of sentinel empty strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def json_field(col: Column | str, path: str) -> Column:
    """Extract one field as string; NULL on malformed JSON or missing path."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{path}")


def parse_json(col: Column | str, schema: StructType | str) -> Column:
    """Full typed parse for known schemas (streaming sources)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, schema)

