"""irivermetrics_offpaper — operators beyond the paper's two modules.

Web-crawl, text, tokenizer, LLM-data, vector-search and web-media
operators that grew next to the engine. The paper pipeline
(``irivermetrics_spark``) imports nothing from here, the dist zip does
not ship it and the board has no entry for it.
"""
