"""Proto <-> DataFrame conversion surface (the reference's public API,
``protarrow/__init__.py:14-26``, re-expressed for Spark).

Driver-side (small data / test harnesses):

* :func:`messages_to_dataframe` — encode messages into a DataFrame.
* :func:`dataframe_to_messages` — decode a DataFrame back to messages.
* :class:`MessageExtractor` — compiled Row -> Message converter.

Distributed (the 100 TB path — binary proto columns on executors):

* :func:`decode_proto_bytes` — binary column -> typed columns
  (Kafka-shaped ingest; ``mapInArrow`` + the wire codec).
* :func:`encode_proto_bytes` — typed columns -> binary column
  (proto-bytes sink shape).

Schema conformance:

* :func:`cast_dataframe` — conform an arbitrary DataFrame to a proto
  schema with pure Catalyst expressions (reference ``cast_to_proto.py``).

Schema evolution (preflight for the cast):

* :func:`diff_contracts` / :func:`breaking_changes` — structural diff
  between two contract versions, classified by the public protobuf
  wire-compatibility rules (conversion/evolve.py).
"""

from protarrow_spark.conversion.cast import cast_dataframe
from protarrow_spark.conversion.evolve import (
    SchemaChange,
    breaking_changes,
    diff_contracts,
)
from protarrow_spark.conversion.decode import (
    MessageExtractor,
    dataframe_to_messages,
    rows_to_messages,
)
from protarrow_spark.conversion.distributed import (
    decode_proto_bytes,
    decode_proto_column,
    encode_proto_bytes,
    encode_proto_column,
    spark_protobuf_available,
)
from protarrow_spark.conversion.encode import (
    messages_to_dataframe,
    messages_to_rows,
)

__all__ = [
    "MessageExtractor",
    "SchemaChange",
    "breaking_changes",
    "diff_contracts",
    "cast_dataframe",
    "dataframe_to_messages",
    "decode_proto_bytes",
    "decode_proto_column",
    "encode_proto_bytes",
    "encode_proto_column",
    "messages_to_dataframe",
    "messages_to_rows",
    "rows_to_messages",
    "spark_protobuf_available",
]
