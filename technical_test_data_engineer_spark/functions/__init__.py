from technical_test_data_engineer_spark.functions.hof import bind  # noqa: F401
from technical_test_data_engineer_spark.functions.scalars import (  # noqa: F401
    repair_year_typo,
    parse_iso_date,
    inclusive_duration_days,
    exact_sum,
    exact_avg,
)
