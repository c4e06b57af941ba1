"""KG-construction benchmark for eventrelationextractor_spark (see README.md)."""
