from avro_conversions_spark.constraints.core import (  # noqa: F401
    RowConstraint,
    decimal_fits,
    enum_in,
    fixed_length,
    not_null,
    parseable,
    range_check,
    regex_match,
    str_len_between,
)
from avro_conversions_spark.constraints.referential import ReferentialConstraint  # noqa: F401
from avro_conversions_spark.constraints.sequence import SequenceConstraint  # noqa: F401
from avro_conversions_spark.constraints.uniqueness import UniqueConstraint  # noqa: F401
