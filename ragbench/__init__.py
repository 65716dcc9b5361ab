"""Benchmark for the Graph-RAG engine; entry point ``run.py``."""
