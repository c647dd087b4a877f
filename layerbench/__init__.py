"""Layered end-to-end benchmark of the fraud ETL engine (see NOTES.md)."""
