from .registry import (load_table, search_element, load_series,
                       events_as_metrics, orders_with_nation,
                       source_fingerprint)

__all__ = ["load_table", "search_element", "load_series",
           "events_as_metrics", "orders_with_nation", "source_fingerprint"]
