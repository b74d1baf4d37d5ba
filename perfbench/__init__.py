"""End-to-end benchmark for extractthinker_spark (see NOTES.md)."""
