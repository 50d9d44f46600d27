from cdc_platform_spark.streaming.pipeline import (  # noqa: F401
    AppendSink,
    BucketedUpsertSink,
    CdcPipeline,
    DlqWriter,
    to_envelope,
)
