"""Structured Streaming wrap: micro-batch pipeline + alert throttle."""

from .throttle import throttle_sends, throttle_stateful_replay  # noqa: F401
from .pipeline import run_stream, foreach_batch_loader  # noqa: F401
from .corpus import curate_doc_stream, run_corpus_stream  # noqa: F401
from .scd2 import merge_scd2_batch, run_scd2_stream  # noqa: F401
