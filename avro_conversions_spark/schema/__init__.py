from avro_conversions_spark.schema.model import (  # noqa: F401
    ArrayType,
    DecimalType,
    EnumType,
    Field,
    FixedType,
    LogicalType,
    NumberRange,
    PrimitiveType,
    ReadType,
    RecordType,
    from_avsc,
    to_spark_type,
)
from avro_conversions_spark.schema.json_schema import (  # noqa: F401
    AnalysisFailure,
    SchemaProps,
    infer_read_schema,
    load_json_schema,
    to_write_type,
)
from avro_conversions_spark.schema.xsd import (  # noqa: F401
    XsdAnalyzer,
    infer_read_schema_from_xsd,
    xsd_to_write_type,
)
from avro_conversions_spark.schema.resolution import (  # noqa: F401
    ColumnPlan,
    ResolvingFailure,
    SchemaResolver,
    WriteType,
    from_spark_schema,
)
