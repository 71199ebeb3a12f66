from tidyvec_spark.sources.vec_io import write_vec, read_vec
from tidyvec_spark.sources.bucketing import (
    bucketed_join_ready,
    write_bucketed_table,
)
from tidyvec_spark.sources.maintenance import (
    compact_parquet,
    parquet_file_stats,
)
from tidyvec_spark.sources.layout import (
    ann_topk_sidecar,
    write_bucket_partitioned,
    write_centroid_partitioned,
    write_zorder,
    zorder_value,
)
from tidyvec_spark.sources.delimited import read_csv_quarantine
from tidyvec_spark.sources.jsonl import read_jsonl, split_corrupt
from tidyvec_spark.sources.tokenbin import (
    read_token_shards,
    write_token_shards,
)
from tidyvec_spark.sources.warc import (
    read_warc,
    split_warc_corrupt,
    warc_gz_bytes,
    warc_record_bytes,
)
from tidyvec_spark.sources.webdataset import (
    read_webdataset,
    wds_key_of,
    write_webdataset,
)

__all__ = [
    "write_vec",
    "read_vec",
    "bucketed_join_ready",
    "compact_parquet",
    "parquet_file_stats",
    "read_csv_quarantine",
    "read_jsonl",
    "read_token_shards",
    "write_token_shards",
    "read_warc",
    "split_warc_corrupt",
    "warc_gz_bytes",
    "warc_record_bytes",
    "split_corrupt",
    "write_bucketed_table",
    "write_bucket_partitioned",
    "write_centroid_partitioned",
    "ann_topk_sidecar",
    "read_webdataset",
    "wds_key_of",
    "write_webdataset",
    "write_zorder",
    "zorder_value",
]
