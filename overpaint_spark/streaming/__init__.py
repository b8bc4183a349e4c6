from overpaint_spark.streaming.stream_profile import (  # noqa: F401
    read_events_stream,
    streaming_profile,
    streaming_rule_metrics,
    write_metrics_stream,
)
from overpaint_spark.streaming.sessionize import streaming_sessionize  # noqa: F401
from overpaint_spark.streaming.dedup import (  # noqa: F401
    streaming_content_dedup,
    streaming_exact_dedup,
)
from overpaint_spark.streaming.attribution import (  # noqa: F401
    streaming_interval_attribution,
)
from overpaint_spark.streaming.alerts import (  # noqa: F401
    write_rule_alerts_stream,
)
from overpaint_spark.streaming.topk import (  # noqa: F401
    streaming_top_tokens,
    top_k_snapshot,
)
from overpaint_spark.streaming.drift import write_psi_stream  # noqa: F401
