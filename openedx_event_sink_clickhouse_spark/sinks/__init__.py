from .clickhouse import ClickHouseConfig, ClickHouseSink
from .csv_encode import encode_csv_lines

__all__ = ["ClickHouseConfig", "ClickHouseSink", "encode_csv_lines"]
