from .events import run_ivfpq_merge_stream

__all__ = ["run_ivfpq_merge_stream"]
