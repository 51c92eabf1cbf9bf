"""Relational operators: URL-seen dedup, politeness, robots, dedup family,
similarity search."""
