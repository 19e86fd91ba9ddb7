"""Structured Streaming wrap: the one micro-batch pipeline (``run_stream``
over ``foreach_batch_loader``) and its alert throttle."""

from .throttle import throttle_sends, throttle_stateful_replay  # noqa: F401
from .pipeline import run_stream, foreach_batch_loader  # noqa: F401
