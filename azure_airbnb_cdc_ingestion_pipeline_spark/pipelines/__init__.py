from .cdc_pipeline import run_cdc_pipeline, with_retry
from .load_booking_fact import (
    load_booking_fact_stream,
    process_booking_batch,
    transform_bookings,
)
from .load_customer_dim import list_files, load_customer_dim

__all__ = [
    "list_files",
    "load_booking_fact_stream",
    "load_customer_dim",
    "process_booking_batch",
    "run_cdc_pipeline",
    "transform_bookings",
    "with_retry",
]
