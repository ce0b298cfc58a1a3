"""Pure-Python Apache Avro codec (schema parse, binary decode/encode,
Avro-JSON encode), implemented from the public Avro 1.11 specification
(https://avro.apache.org/docs/current/specification/).

No ``fastavro``/``avro`` wheel is installed and no ``spark-avro``
connector jar is on the classpath, so the engine carries its own minimal
generic codec.  It is the per-record-schema path the reference implements
with ``GenericDatumReader`` (AvroTransform.java:241-243), and the decode
UDF in ``decoder.py`` is its one caller on the hot path.
"""

from byte_convert_avro_spark.avro.schema import AvroSchema, parse_schema
from byte_convert_avro_spark.avro.binary import (
    compile_reader,
    compile_writer,
    schemaless_decode,
    schemaless_encode,
)
from byte_convert_avro_spark.avro.jsonenc import avro_json_dumps, to_avro_json

__all__ = [
    "AvroSchema",
    "parse_schema",
    "compile_reader",
    "compile_writer",
    "schemaless_decode",
    "schemaless_encode",
    "avro_json_dumps",
    "to_avro_json",
]
