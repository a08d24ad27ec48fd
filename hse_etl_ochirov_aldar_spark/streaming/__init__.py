from .anomaly import ewma_scores_batch
from .daily import run_available_now, streaming_daily_avg, streaming_sliding_counts
from .sessionize import sessionize_batch

__all__ = [
    "ewma_scores_batch",
    "run_available_now",
    "sessionize_batch",
    "streaming_daily_avg",
    "streaming_sliding_counts",
]
