from bigdime_spark.operators.base import AggConstraint, TableConstraint, SuiteContext  # noqa: F401
from bigdime_spark.operators.row_checks import NotNull, DomainCheck  # noqa: F401
from bigdime_spark.operators.record_count import RecordCount  # noqa: F401
from bigdime_spark.operators.checksum import Checksum  # noqa: F401
from bigdime_spark.operators.drift import DriftCheck  # noqa: F401
from bigdime_spark.operators.decode import DecodeIntegrity  # noqa: F401
