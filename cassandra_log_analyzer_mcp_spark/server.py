"""Optional MCP adapter: the reference's 9 tools over the Spark engine.

Import-gated — the engine has no hard dependency on ``mcp`` (mirroring
the reference's paramiko gating, ref :21-26). Tool names and argument
shapes match the reference (ref handle_list_tools :380-579) so an MCP
client configured for the reference can point here unchanged; the SSH
tools land files into a staging directory that the distributed source
then scans, instead of holding file contents in driver memory.
"""

from __future__ import annotations

try:
    from mcp.server import Server
    from mcp.types import Resource, TextContent, Tool

    MCP_AVAILABLE = True
except ImportError:
    MCP_AVAILABLE = False

from pyspark.sql import SparkSession

from . import api
from .memo import work_dir
from .sources import logfiles


def build_server(spark: SparkSession):
    """Create the MCP server wired to a Spark-backed LogStore."""
    if not MCP_AVAILABLE:
        raise RuntimeError("mcp is not installed; pip install mcp to serve")

    server = Server("cassandra-log-analyzer-spark")
    store = api.LogStore(spark)
    ssh_config: dict[str, dict] = {}
    staging = work_dir("ssh_logs")

    def _flagged():
        return store.flagged()

    @server.list_resources()
    async def list_resources() -> list[Resource]:
        # parity with ref handle_list_resources :341-357
        return [
            Resource(
                uri="cassandra://logs/analysis",
                name="Cassandra log analysis",
                description="Full-cluster analysis over all loaded logs",
                mimeType="text/markdown",
            ),
            Resource(
                uri="cassandra://logs/nodes",
                name="Cluster nodes",
                description="Nodes discovered in the loaded logs",
                mimeType="application/json",
            ),
        ]

    @server.read_resource()
    async def read_resource(uri) -> str:
        # parity with ref handle_read_resource :360-377, including its
        # graceful empty-store responses
        import json as _json

        if str(uri) == "cassandra://logs/analysis":
            try:
                return api.analyze_cluster_report(_flagged())
            except ValueError:
                return _json.dumps({"error": "no logs loaded"})
        if str(uri) == "cassandra://logs/nodes":
            try:
                nodes = store.nodes()
            except ValueError:
                nodes = []
            return _json.dumps({"nodes": nodes, "total_nodes": len(nodes)})
        raise ValueError(f"unknown resource: {uri}")

    @server.list_tools()
    async def list_tools() -> list[Tool]:
        tools = [
            Tool(name="configure_ssh_node",
                 description="Configure SSH parameters for a Cassandra node.",
                 inputSchema={"type": "object", "properties": {
                     "node_name": {"type": "string"},
                     "host": {"type": "string"},
                     "username": {"type": "string"},
                     "password": {"type": "string"},
                     "key_file": {"type": "string"},
                     "port": {"type": "integer", "default": 22},
                     "log_directory": {"type": "string",
                                       "default": "/var/log/cassandra"}},
                     "required": ["node_name", "host", "username"]}),
            Tool(name="load_logs_from_ssh",
                 description="Fetch a node's logs via SSH into the scan area.",
                 inputSchema={"type": "object", "properties": {
                     "node_name": {"type": "string"},
                     "log_type": {"type": "string",
                                  "enum": ["system", "debug", "both"],
                                  "default": "system"},
                     "tail_lines": {"type": "integer"}},
                     "required": ["node_name"]}),
            Tool(name="load_logs_from_all_nodes",
                 description="Fetch logs from every configured node.",
                 inputSchema={"type": "object", "properties": {
                     "log_type": {"type": "string", "default": "system"},
                     "tail_lines": {"type": "integer"}}}),
            Tool(name="load_logs",
                 description="Load pasted log content for a node.",
                 inputSchema={"type": "object", "properties": {
                     "node_name": {"type": "string"},
                     "log_content": {"type": "string"},
                     "log_type": {"type": "string"}},
                     "required": ["node_name", "log_content"]}),
            Tool(name="register_log_glob",
                 description="Register a shared-storage glob of log files "
                             "(…/<node>/<file>.log) — the cluster-scale "
                             "replacement for per-node SSH pulls.",
                 inputSchema={"type": "object", "properties": {
                     "path_glob": {"type": "string"}},
                     "required": ["path_glob"]}),
            Tool(name="analyze_cluster",
                 description="Full cluster analysis report.",
                 inputSchema={"type": "object", "properties": {
                     "include_timeline": {"type": "boolean", "default": True}}}),
            Tool(name="search_logs",
                 description="Regex search across all logs.",
                 inputSchema={"type": "object", "properties": {
                     "pattern": {"type": "string"},
                     "case_sensitive": {"type": "boolean", "default": False},
                     "node_filter": {"type": "string"}},
                     "required": ["pattern"]}),
            Tool(name="get_errors",
                 description="Extract error entries.",
                 inputSchema={"type": "object", "properties": {
                     "node_name": {"type": "string"},
                     "limit": {"type": "integer", "default": 50}}}),
            Tool(name="compare_nodes",
                 description="Compare metrics across nodes.",
                 inputSchema={"type": "object", "properties": {
                     "nodes": {"type": "array", "items": {"type": "string"}}}}),
            Tool(name="detect_issues",
                 description="Threshold-rule recommendations.",
                 inputSchema={"type": "object", "properties": {
                     "severity": {"type": "string",
                                  "enum": ["all", "critical", "high", "medium"],
                                  "default": "all"}}}),
            Tool(name="cluster_health",
                 description="Ranked per-node health report card "
                             "(integer penalty from errors/warnings/"
                             "bursts/dropped, relative grades).",
                 inputSchema={"type": "object", "properties": {}}),
            Tool(name="clear_caches",
                 description="Release cached DataFrame blocks (call "
                             "between analyses of different log sets to "
                             "bound executor memory in a long-lived "
                             "server).",
                 inputSchema={"type": "object", "properties": {}}),
        ]
        if not logfiles.SSH_AVAILABLE:
            tools = [t for t in tools if "ssh" not in t.name]
        return tools

    @server.call_tool()
    async def call_tool(name: str, args: dict) -> list[TextContent]:
        def text(s: str) -> list[TextContent]:
            return [TextContent(type="text", text=s)]

        if name == "configure_ssh_node":
            ssh_config[args["node_name"]] = args
            return text(f"Configured SSH for '{args['node_name']}' ({args['host']})")
        if name == "load_logs_from_ssh":
            cfg = ssh_config.get(args["node_name"])
            if not cfg:
                return text(f"Node '{args['node_name']}' is not configured")
            log_dir = cfg.get("log_directory", "/var/log/cassandra")
            loaded = []
            kinds = {"system": ["system"], "debug": ["debug"],
                     "both": ["system", "debug"]}[args.get("log_type", "system")]
            for kind in kinds:
                dest = logfiles.fetch_logs_via_ssh(
                    host=cfg["host"], username=cfg["username"],
                    remote_path=f"{log_dir}/{kind}.log",
                    local_dir=staging, node_name=args["node_name"],
                    password=cfg.get("password"),
                    key_filename=cfg.get("key_file"),
                    port=cfg.get("port", 22),
                    tail_lines=args.get("tail_lines"),
                )
                loaded.append(dest)
            store.add_glob(f"{staging}/*/*.log")
            return text("Loaded: " + ", ".join(loaded))
        if name == "load_logs_from_all_nodes":
            results = []
            for node in ssh_config:
                try:
                    await call_tool("load_logs_from_ssh",
                                    {**args, "node_name": node})
                    results.append(f"OK {node}")
                except Exception as e:  # per-node isolation, ref :704-714
                    results.append(f"ERROR {node}: {e}")
            return text("\n".join(results) or "no nodes configured")
        if name == "load_logs":
            store.add_pasted(args["node_name"], args["log_content"])
            return text(f"Loaded pasted logs for '{args['node_name']}'")
        if name == "register_log_glob":
            store.add_glob(args["path_glob"])
            return text(f"Registered {args['path_glob']}")
        if name == "analyze_cluster":
            return text(api.analyze_cluster_report(_flagged()))
        if name == "search_logs":
            return text(api.search_report(
                _flagged(), args["pattern"],
                args.get("case_sensitive", False), args.get("node_filter")))
        if name == "get_errors":
            return text(api.errors_report(
                _flagged(), args.get("node_name"), args.get("limit", 50)))
        if name == "compare_nodes":
            return text(api.compare_report(_flagged(), args.get("nodes")))
        if name == "detect_issues":
            return text(api.issues_report(_flagged(), args.get("severity", "all")))
        if name == "cluster_health":
            return text(api.health_report(_flagged()))
        if name == "clear_caches":
            from .session import clear_caches

            clear_caches(spark)
            return text("Caches cleared")
        raise ValueError(f"unknown tool: {name}")

    return server


async def main() -> None:
    from mcp.server.stdio import stdio_server

    from .session import get_spark

    spark = get_spark(master="local[*]")
    server = build_server(spark)
    async with stdio_server() as (read, write):
        await server.run(read, write, server.create_initialization_options())


if __name__ == "__main__":
    import asyncio

    asyncio.run(main())
