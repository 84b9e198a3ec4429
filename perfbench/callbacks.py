"""Stream-trigger callbacks. Spark's Python workers import this module by
name, so it stays free of heavy imports."""


def enrich(record: dict) -> dict:
    """Reshape one `events` record: its type and its value in cents."""
    f = record["fields"]
    return {"type": f["event_type"], "cents": round(float(f["value"]) * 100)}
